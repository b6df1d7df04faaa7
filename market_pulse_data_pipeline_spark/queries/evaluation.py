"""Evaluation metrics over the `documents` table: generation overlap
(ROUGE-1/2 and ROUGE-L), span-level F1, inter-annotator agreement, and
bootstrap confidence intervals.

Each candidate, annotation or replicate is derived deterministically
from the corpus (md5-keyed, no RNG state), so both engines build the
identical inputs and every metric hash-checks against a DuckDB oracle.

- ``cohens_kappa_agreement`` — annotation quality control (Cohen
  1960): chance-corrected inter-annotator agreement per language,
  the gate every labeling pipeline runs before trusting labels. Two
  deterministic annotators are derived from the corpus (a length
  rule; the same rule hash-flipped at ~15% — both engines build the
  identical pair), and kappa = (N·(n00+n11) − (a0·b0 + a1·b1)) /
  (N² − (a0·b0 + a1·b1)) — the po/pe algebra cleared of fractions,
  every term an exact integer, ONE terminal rounding through the
  decimal route. The full 2×2 contingency table rides the compared
  bytes.
- ``bootstrap_metric_ci`` — statistical inference for corpus
  metrics (Efron 1979): a metric without a confidence interval is a
  point guess, and benchmark/eval pipelines report bootstrap CIs.
  Deterministic Poisson(1) bootstrap: each (doc, replicate) draws an
  integer multiplicity from the md5-uniform CDF (exact integer
  thresholds, both engines bit-identical), B=40 replicates fan out
  MAP-SIDE (a bounded 40× explode, the grid-join discipline), one
  (lang, replicate) aggregate computes replicate means, and the
  95% CI is the 2nd/39th order statistic folded through a
  collect_list over the B-bounded replicate vector (never a global
  window). Per-(lang, replicate) means AND the per-lang point/CI
  columns ride the compared bytes.
- ``rouge_n_eval_overlap`` — generation/summarization evaluation:
  ROUGE-1 and ROUGE-2 with CLIPPED bag matching (Lin 2004) between
  each reference document and a deterministically derived candidate
  (an 80%-prefix with a duplicated lead token — the clip witness: its
  candidate count exceeds the reference count and must NOT double-
  count — plus alien tokens that depress precision). For clipped
  matching P and R share the numerator, so F1 = 2m/(len_c + len_r) is
  a single exact division. Nothing else registered computes an n-gram
  overlap METRIC (the dedup family thresholds Jaccard; eval needs
  precision/recall/F1 per pair).
- ``span_match_f1`` — span-level annotation evaluation (the NER/
  extraction scorer): exact-span precision/recall/F1 of a predicted
  span set against gold, where gold = every occurrence of a fixed
  bigram and predictions are a deterministic hash-perturbation of
  gold (dropped spans → recall misses, shifted spans → matched-
  nothing precision errors, spurious spans → pure false positives).
  Composes the span substrate (token_spans_offsets,
  gazetteer_phrase_match) with the evaluation step that consumes it;
  tp/n_gold/n_pred and the three ratios ride the compared bytes.
- ``rouge_l_eval_overlap`` — the sequence-sensitive complement to the
  clipped bag-overlap ROUGE-1/2 (``rouge_n_eval_overlap``): ROUGE-L
  scores the LONGEST COMMON SUBSEQUENCE between reference and
  candidate, so token ORDER matters — a bag-identical shuffled
  candidate scores 1.0 on ROUGE-1 but collapses on ROUGE-L. Candidate
  construction keeps the DP honest in both directions: every 3rd
  reference token is dropped (the DP must skip inside the REFERENCE),
  an alien token is spliced mid-candidate (a skip inside the
  CANDIDATE), and the lead token + junk are appended (end-anchored
  noise, the ROUGE-1/2 clip-witness idiom). The LCS dynamic program is
  expressible as a DuckDB RECURSIVE CTE over DP rows, so it carries a
  FULL value-hash oracle rather than a rows-only check.

  Exactness contract (both engines, integer DP): the standard LCS
  recurrence is evaluated in its max-form
  ``dp[i][j] = max(dp[i-1][j], dp[i][j-1], dp[i-1][j-1] + eq)`` —
  equal to the textbook if/else form because DP rows are monotone
  (``dp[i][j-1] <= dp[i-1][j-1] + 1`` and ``dp[i-1][j] <=
  dp[i-1][j-1] + 1``). Row update factorizes into a prefix max:
  ``cur[j] = max_{k<=j} max(prev[k-1] + eq_k, prev[k])`` — Spark runs
  it as an Arrow-batched ``np.maximum.accumulate`` row DP (pure
  int64), the oracle replays the identical rows with a recursive CTE
  whose inner ``list_max(list_transform(range(1, j+1), ...))`` IS that
  prefix max. Ratios go through the shared round_div decimal snap.

  100 TB shape: one map-only Arrow pass — O(|ref|·|cand|) int64 cells
  per pair, zero shuffle, zero collect; the eval/reference set is
  bounded by definition (the decontamination asymmetry), and
  candidate pairing is an equi-join on doc_id upstream of the UDF. The
  quadratic is per-PAIR (document lengths), never per-corpus — the
  same boundedness argument as the within-cluster SemDeDup quadratic.

None of these exist in the reference (an Airflow -> object store ->
warehouse -> dbt stock pipeline); they are part of the training-data
evaluation surface the build adds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from market_pulse_data_pipeline_spark.functions.dedup import portable_hash60
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)


# --------------------------------------------------------------------
# cohens_kappa_agreement
# --------------------------------------------------------------------

_KP_THRESH = 300  # annotator A: n_chars >= 300 (splits every lang
# roughly in half at every fixture SF — no degenerate marginals)
_KP_FLIP_MOD = 20
_KP_FLIP_LT = 3  # annotator B flips A's label when md5 % 20 < 3 (~15%)


def _kp_oracle() -> str:
    flip = (
        "(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ann'), 1, "
        f"15))::BIGINT % {_KP_FLIP_MOD}) < {_KP_FLIP_LT}"
    )
    return f"""
    WITH lab AS (
      SELECT lang,
             CASE WHEN n_chars >= {_KP_THRESH} THEN 1 ELSE 0 END AS la,
             CASE WHEN ({flip})
                  THEN 1 - (CASE WHEN n_chars >= {_KP_THRESH}
                            THEN 1 ELSE 0 END)
                  ELSE (CASE WHEN n_chars >= {_KP_THRESH}
                        THEN 1 ELSE 0 END) END AS lb
      FROM documents
    ),
    ct AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN la = 0 AND lb = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN la = 0 AND lb = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN la = 1 AND lb = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN la = 1 AND lb = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11
      FROM lab GROUP BY lang
    )
    SELECT lang, n, n00, n01, n10, n11,
           CASE WHEN n * n = (n00 + n01) * (n00 + n10)
                            + (n10 + n11) * (n01 + n11)
                THEN CAST(1.0 AS DOUBLE)
                ELSE {sql_round_div(
               "n * (n00 + n11) - ((n00 + n01) * (n00 + n10)"
               " + (n10 + n11) * (n01 + n11))",
               "n * n - ((n00 + n01) * (n00 + n10)"
               " + (n10 + n11) * (n01 + n11))",
           )} END AS kappa
    FROM ct
    ORDER BY lang
    """


@register(
    "cohens_kappa_agreement",
    _kp_oracle(),
    doc="inter-annotator agreement per language (Cohen 1960): the "
    "chance-corrected kappa every labeling pipeline gates on before "
    "trusting annotations. Two deterministic annotators derive from "
    "the corpus - a length rule, and the same rule hash-flipped at "
    "~15% via the portable md5 route - so both engines construct the "
    "identical label pair. kappa = (po - pe) / (1 - pe) cleared of "
    "fractions: (N*(n00+n11) - (a0*b0 + a1*b1)) / (N^2 - (a0*b0 + "
    "a1*b1)) where a/b are the marginals - every term an exact "
    "integer, ONE terminal rounding through the shared decimal "
    "route (production casts the products to DECIMAL(38,0) when N "
    "outgrows the int64 square root). The full 2x2 contingency table "
    "rides the compared bytes next to kappa, so a marginal-algebra "
    "slip cannot hide inside the ratio. 100 TB shape: one map-only "
    "label projection + one per-lang hash aggregate with map-side "
    "combine - state is 5 counters per language, linear scan, zero "
    "joins.",
)
def cohens_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohens_kappa_agreement_from(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    )


def cohens_kappa_agreement_from(docs: DataFrame) -> DataFrame:
    """The full kappa pipeline over a (doc_id, lang, n_chars) frame —
    shared with tools/stress_check.py's ``kappa_agree`` stage so the
    stress row always measures the shipping shape."""
    la = F.when(F.col("n_chars") >= _KP_THRESH, 1).otherwise(0)
    flip = (
        portable_hash60(
            F.concat(F.col("doc_id").cast("string"), F.lit(":ann"))
        )
        % _KP_FLIP_MOD
        < _KP_FLIP_LT
    )
    lb = F.when(flip, 1 - la).otherwise(la)
    lab = docs.select("lang", la.alias("la"), lb.alias("lb"))
    ct = lab.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((F.col("la") == 0) & (F.col("lb") == 0)).cast("int"))
        .cast("long")
        .alias("n00"),
        F.sum(((F.col("la") == 0) & (F.col("lb") == 1)).cast("int"))
        .cast("long")
        .alias("n01"),
        F.sum(((F.col("la") == 1) & (F.col("lb") == 0)).cast("int"))
        .cast("long")
        .alias("n10"),
        F.sum(((F.col("la") == 1) & (F.col("lb") == 1)).cast("int"))
        .cast("long")
        .alias("n11"),
    )
    pe_num = (F.col("n00") + F.col("n01")) * (
        F.col("n00") + F.col("n10")
    ) + (F.col("n10") + F.col("n11")) * (F.col("n01") + F.col("n11"))
    return ct.select(
        "lang",
        "n",
        "n00",
        "n01",
        "n10",
        "n11",
        # pe = 1 (denominator 0) only when BOTH annotators are fully
        # concentrated in the same cell, i.e. po = 1 too — report the
        # perfect-agreement convention kappa = 1.0 instead of 0/0
        F.when(
            F.col("n") * F.col("n") == pe_num, F.lit(1.0)
        )
        .otherwise(
            round_div(
                F.col("n") * (F.col("n00") + F.col("n11")) - pe_num,
                F.col("n") * F.col("n") - pe_num,
            )
        )
        .alias("kappa"),
    ).orderBy("lang")


# --------------------------------------------------------------------
# bootstrap_metric_ci
# --------------------------------------------------------------------

_BS_B = 40  # bootstrap replicates; 95% CI = 2nd / 39th order stat
# Poisson(1) CDF as exact integer thresholds over md5 % 100000:
# P(0)=.36788, P(<=1)=.73576, P(<=2)=.91970, P(<=3)=.98101, else 4
_BS_T0, _BS_T1, _BS_T2, _BS_T3 = 36788, 73576, 91970, 98101
_BS_SCALE = 100_000


def _bs_mult_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_BS_T0} THEN 0 WHEN {u} < {_BS_T1} THEN 1 "
        f"WHEN {u} < {_BS_T2} THEN 2 WHEN {u} < {_BS_T3} THEN 3 "
        "ELSE 4 END"
    )


def _bs_oracle() -> str:
    u = (
        "(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#' || "
        f"CAST(r AS VARCHAR)), 1, 15))::BIGINT % {_BS_SCALE})"
    )
    # GREATEST(.., 1): a (lang, replicate) whose every doc drew
    # multiplicity 0 (probability ~e^-n per replicate) reports
    # n_eff = 0 and rep_mean = 0.0 instead of dividing by zero —
    # the same defined-sentinel both engines compute
    mean = sql_round_div("SUM(m * n_chars)", "GREATEST(SUM(m), 1)")
    return f"""
    WITH fan AS (
      SELECT d.lang, d.n_chars, u.r,
             {_bs_mult_sql(u)} AS m
      FROM documents d, UNNEST(range({_BS_B})) AS u(r)
    ),
    reps AS (
      SELECT lang, r AS replicate,
             CAST(SUM(m) AS BIGINT) AS n_eff,
             {mean} AS rep_mean
      FROM fan GROUP BY lang, r
    ),
    summ AS (
      SELECT lang,
             list_sort(list(rep_mean))[2] AS ci_lo,
             list_sort(list(rep_mean))[{_BS_B - 1}] AS ci_hi
      FROM reps GROUP BY lang
    ),
    pt AS (
      SELECT lang, {sql_round_div("SUM(n_chars)", "COUNT(*)")}
               AS point_mean
      FROM documents GROUP BY lang
    )
    SELECT r.lang, CAST(r.replicate AS BIGINT) AS replicate, r.n_eff,
           r.rep_mean, p.point_mean, s.ci_lo, s.ci_hi
    FROM reps r JOIN summ s USING (lang) JOIN pt p USING (lang)
    ORDER BY lang, replicate
    """


@register(
    "bootstrap_metric_ci",
    _bs_oracle(),
    doc="bootstrap confidence interval for a corpus metric (Efron "
    "1979) - eval and benchmark pipelines report CIs, not point "
    "guesses, and nothing registered does statistical inference. "
    "Deterministic Poisson(1) bootstrap: each (doc, replicate) draws "
    "an integer multiplicity from the md5-uniform CDF (exact integer "
    "thresholds - both engines produce the identical resample), B=40 "
    "replicates fan out MAP-SIDE as a bounded explode (the grid-join "
    "discipline: constant fan-out, never a per-replicate corpus "
    "scan), one (lang, replicate) hash aggregate computes replicate "
    "means through the decimal route, and the 95% CI is the 2nd/39th "
    "order statistic folded through array_sort over the B-bounded "
    "replicate vector - a bounded collect_list aggregate, never a "
    "global window. Per-(lang, replicate) means AND the per-lang "
    "point/CI columns ride the compared bytes, so both the resample "
    "and the interval algebra are value-hashed. 100 TB shape: one "
    "40x map-side fan-out + one hash aggregate with map-side combine "
    "(B*langs output rows); production bootstraps eval sets, where "
    "the fan-out input is already model-sized.",
)
def bootstrap_metric_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bootstrap_metric_ci_from(
        t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    )


def bootstrap_metric_ci_from(docs: DataFrame) -> DataFrame:
    """The full bootstrap pipeline over a (lang, doc_id, n_chars)
    frame — shared with tools/stress_check.py's ``bootstrap_ci`` stage
    so the stress row always measures the shipping shape."""
    fan = docs.select(
        "lang",
        "n_chars",
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_BS_B - 1))).alias("r"),
    )
    u = (
        portable_hash60(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("#"),
                F.col("r").cast("string"),
            )
        )
        % _BS_SCALE
    )
    m = (
        F.when(u < _BS_T0, 0)
        .when(u < _BS_T1, 1)
        .when(u < _BS_T2, 2)
        .when(u < _BS_T3, 3)
        .otherwise(4)
    )
    reps = (
        fan.withColumn("m", m)
        .groupBy("lang", "r")
        .agg(
            F.sum("m").cast("long").alias("n_eff"),
            round_div(
                F.sum(F.col("m") * F.col("n_chars")),
                F.greatest(F.sum("m"), F.lit(1)),
            ).alias("rep_mean"),
        )
        .select(
            "lang",
            F.col("r").cast("long").alias("replicate"),
            "n_eff",
            "rep_mean",
        )
    )
    summ = reps.groupBy("lang").agg(
        F.element_at(F.array_sort(F.collect_list("rep_mean")), 2).alias(
            "ci_lo"
        ),
        F.element_at(
            F.array_sort(F.collect_list("rep_mean")), _BS_B - 1
        ).alias("ci_hi"),
    )
    pt = docs.groupBy("lang").agg(
        round_div(F.sum("n_chars"), F.count(F.lit(1))).alias("point_mean")
    )
    return (
        reps.join(F.broadcast(summ), "lang")
        .join(F.broadcast(pt), "lang")
        .select(
            "lang",
            "replicate",
            "n_eff",
            "rep_mean",
            "point_mean",
            "ci_lo",
            "ci_hi",
        )
        .orderBy("lang", "replicate")
    )


# --------------------------------------------------------------------
# rouge_n_eval_overlap
# --------------------------------------------------------------------

_RG_EVAL_MOD = 41  # doc_id % 41 == 0 plays the reference set
# candidate = first 80% of the reference tokens, then the lead token
# AGAIN (the clip witness: its candidate count exceeds its reference
# count in most docs), then two alien tokens (pure precision errors)
_RG_CUT_NUM, _RG_CUT_DEN = 4, 5


def _rg_cand_sql() -> str:
    return (
        f"list_concat(ws[1 : (len(ws) * {_RG_CUT_NUM}) // {_RG_CUT_DEN}],"
        " [ws[1], 'zz9', 'zz8'])"
    )


def _rg_oracle() -> str:
    return f"""
    WITH refs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % {_RG_EVAL_MOD} = 0
    ),
    pairs AS (
      SELECT doc_id, ws AS ref_ws, {_rg_cand_sql()} AS cand_ws FROM refs
    ),
    u_r AS (
      SELECT doc_id, UNNEST(ref_ws) AS g FROM pairs
    ),
    u_c AS (
      SELECT doc_id, UNNEST(cand_ws) AS g FROM pairs
    ),
    b_r AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(ref_ws)),
                    i -> ref_ws[i] || ' ' || ref_ws[i + 1])) AS g
      FROM pairs
    ),
    b_c AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(cand_ws)),
                    i -> cand_ws[i] || ' ' || cand_ws[i + 1])) AS g
      FROM pairs
    ),
    m1 AS (
      SELECT r.doc_id,
             CAST(SUM(LEAST(r.c, c.c)) AS BIGINT) AS m
      FROM (SELECT doc_id, g, COUNT(*) AS c FROM u_r GROUP BY 1, 2) r
      JOIN (SELECT doc_id, g, COUNT(*) AS c FROM u_c GROUP BY 1, 2) c
        USING (doc_id, g)
      GROUP BY 1
    ),
    m2 AS (
      SELECT r.doc_id,
             CAST(SUM(LEAST(r.c, c.c)) AS BIGINT) AS m
      FROM (SELECT doc_id, g, COUNT(*) AS c FROM b_r GROUP BY 1, 2) r
      JOIN (SELECT doc_id, g, COUNT(*) AS c FROM b_c GROUP BY 1, 2) c
        USING (doc_id, g)
      GROUP BY 1
    ),
    sizes AS (
      SELECT doc_id,
             CAST(len(ref_ws) AS BIGINT) AS lr1,
             CAST(len(cand_ws) AS BIGINT) AS lc1,
             CAST(len(ref_ws) - 1 AS BIGINT) AS lr2,
             CAST(len(cand_ws) - 1 AS BIGINT) AS lc2
      FROM pairs
    )
    SELECT s.doc_id,
           COALESCE(m1.m, 0) AS m1, s.lc1, s.lr1,
           {sql_round_div('COALESCE(m1.m, 0) * 1.0', 's.lc1', 6)}
             AS rouge1_p,
           {sql_round_div('COALESCE(m1.m, 0) * 1.0', 's.lr1', 6)}
             AS rouge1_r,
           {sql_round_div('2.0 * COALESCE(m1.m, 0)', 's.lc1 + s.lr1', 6)}
             AS rouge1_f1,
           COALESCE(m2.m, 0) AS m2, s.lc2, s.lr2,
           {sql_round_div('2.0 * COALESCE(m2.m, 0)', 's.lc2 + s.lr2', 6)}
             AS rouge2_f1
    FROM sizes s
    LEFT JOIN m1 USING (doc_id)
    LEFT JOIN m2 USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "rouge_n_eval_overlap",
    _rg_oracle(),
    doc="ROUGE-1/ROUGE-2 with CLIPPED bag matching (Lin 2004) - the "
    "generation/summarization evaluation metric, a family nothing "
    "registered computes (the dedup queries THRESHOLD Jaccard; eval "
    "needs per-pair precision/recall/F1). Candidates derive "
    "deterministically from each reference: an 80%-prefix (recall "
    "< 1), the lead token duplicated (the CLIP witness - its "
    "candidate count exceeds its reference count and min() must "
    "refuse to double-count), and two alien tokens (pure precision "
    "errors). Clipped match m = sum min(count_cand, count_ref) per "
    "gram; P and R share the numerator so F1 = 2m/(len_c + len_r) is "
    "one exact division through the decimal route. 100 TB shape: "
    "grams explode map-side from the pair frame, one (doc, gram) "
    "aggregate per side per order, doc-keyed equi-joins - pair "
    "volume is the eval set, which is model-sized by definition "
    "(the decontamination asymmetry applied to scoring).",
)
def rouge_n_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rouge_n_eval_overlap_from(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _RG_EVAL_MOD == 0)
        .select("doc_id", "text")
    )


def rouge_n_eval_overlap_from(refs: DataFrame) -> DataFrame:
    """The full scorer over a (doc_id, text) reference frame — shared
    with tools/stress_check.py's ``rouge_eval`` stage so the stress
    row always measures the shipping shape."""
    pairs = refs.select(
        "doc_id",
        F.split("text", " ").alias("ref_ws"),
    ).select(
        "doc_id",
        "ref_ws",
        F.concat(
            F.expr(
                f"slice(ref_ws, 1, (size(ref_ws) * {_RG_CUT_NUM}) div "
                f"{_RG_CUT_DEN})"
            ),
            F.array(
                F.element_at("ref_ws", 1), F.lit("zz9"), F.lit("zz8")
            ),
        ).alias("cand_ws"),
    )

    def bigrams(col: str):
        # zip_with over two slices is empty-safe for single-token docs
        # (sequence(1, size-1) would DESCEND to [1, 0] at size==1 and
        # ANSI element_at would throw — the span_match_f1 lookahead
        # lesson applied here too)
        return F.expr(
            f"zip_with(slice({col}, 1, greatest(size({col}) - 1, 0)), "
            f"slice({col}, 2, greatest(size({col}) - 1, 0)), "
            f"(a, b) -> concat(a, ' ', b))"
        )

    def bag(col, alias):
        return (
            pairs.select("doc_id", F.explode(col).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    def matched(r_bag, c_bag):
        return (
            r_bag.join(c_bag, ["doc_id", "g"])
            .groupBy("doc_id")
            .agg(
                F.sum(F.least(F.col("rc"), F.col("cc")))
                .cast("long")
                .alias("m")
            )
        )

    m1 = matched(bag(F.col("ref_ws"), "rc"), bag(F.col("cand_ws"), "cc"))
    m2 = matched(bag(bigrams("ref_ws"), "rc"), bag(bigrams("cand_ws"), "cc"))
    sizes = pairs.select(
        "doc_id",
        F.size("ref_ws").cast("long").alias("lr1"),
        F.size("cand_ws").cast("long").alias("lc1"),
        (F.size("ref_ws") - 1).cast("long").alias("lr2"),
        (F.size("cand_ws") - 1).cast("long").alias("lc2"),
    )
    z = F.lit(0).cast("long")
    return (
        sizes.join(m1.withColumnRenamed("m", "m1x"), "doc_id", "left")
        .join(m2.withColumnRenamed("m", "m2x"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("m1x", z).alias("m1"),
            "lc1",
            "lr1",
            round_div(
                F.coalesce("m1x", z) * 1.0, F.col("lc1"), 6
            ).alias("rouge1_p"),
            round_div(
                F.coalesce("m1x", z) * 1.0, F.col("lr1"), 6
            ).alias("rouge1_r"),
            round_div(
                F.coalesce("m1x", z) * 2.0,
                F.col("lc1") + F.col("lr1"),
                6,
            ).alias("rouge1_f1"),
            F.coalesce("m2x", z).alias("m2"),
            "lc2",
            "lr2",
            round_div(
                F.coalesce("m2x", z) * 2.0,
                F.col("lc2") + F.col("lr2"),
                6,
            ).alias("rouge2_f1"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# span_match_f1
# --------------------------------------------------------------------

_SP_A, _SP_B = "table", "scan"  # the gold bigram (present at every SF)
_SP_MOD = 5  # h % 5: 0 -> dropped (miss), 1 -> shifted, else exact
_SP_SPUR_MOD = 6  # docs with h(doc) % 6 == 0 emit one spurious span


def _sp_hash_sql(expr: str) -> str:
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"


def _sp_oracle() -> str:
    h_span = _sp_hash_sql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(start_pos AS VARCHAR)"
        " || ':sp'"
    )
    h_doc = _sp_hash_sql("CAST(doc_id AS VARCHAR) || ':spur'")
    return f"""
    WITH docs_t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    gold AS (
      SELECT doc_id, u.p AS start_pos
      FROM docs_t, UNNEST(range(1, len(ws))) AS u(p)
      WHERE ws[p] = '{_SP_A}' AND ws[p + 1] = '{_SP_B}'
    ),
    perturbed AS (
      SELECT doc_id,
             CASE WHEN {h_span} % {_SP_MOD} = 1 THEN start_pos + 1
                  ELSE start_pos END AS start_pos
      FROM gold
      WHERE {h_span} % {_SP_MOD} <> 0
    ),
    spurious AS (
      SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS start_pos
      FROM docs_t
      WHERE {h_doc} % {_SP_SPUR_MOD} = 0
    ),
    pred AS (
      SELECT DISTINCT doc_id, start_pos FROM (
        SELECT * FROM perturbed UNION ALL SELECT * FROM spurious
      )
    ),
    tp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS tp
      FROM gold g JOIN pred p USING (doc_id, start_pos)
    ),
    ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gold FROM gold),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pred FROM pred)
    SELECT ng.n_gold, np.n_pred, tp.tp,
           {sql_round_div('tp.tp * 1.0', 'np.n_pred', 6)} AS precision_,
           {sql_round_div('tp.tp * 1.0', 'ng.n_gold', 6)} AS recall_,
           {sql_round_div('2.0 * tp.tp', 'np.n_pred + ng.n_gold', 6)}
             AS f1
    FROM ng, np, tp
    """


@register(
    "span_match_f1",
    _sp_oracle(),
    doc="span-level annotation evaluation - the NER/extraction scorer "
    "(exact-span matching, the CoNLL convention): precision, recall "
    "and F1 of a predicted span set against gold, where gold is "
    f"every token-aligned occurrence of '{_SP_A} {_SP_B}' and the "
    "predictions are a deterministic hash-perturbation of gold - "
    "dropped spans (recall misses), +1-shifted spans (they match "
    "NOTHING exactly: a shifted span is both a recall miss and a "
    "precision error, the property that distinguishes exact-span F1 "
    "from token-overlap scoring), and spurious spans (pure false "
    "positives). For exact matching P and R share the tp numerator, "
    "so F1 = 2*tp/(n_pred + n_gold) is one exact division. Composes "
    "the span substrate (token_spans_offsets, gazetteer_phrase_match "
    "produce spans) with the evaluation step that consumes it. "
    "100 TB shape: gold spans explode map-side, perturbation is a "
    "map-only md5 projection, one (doc, start) equi-join on true "
    "spans only - span volume is term frequency, never tokens.",
)
def span_match_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_match_f1_from(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


def span_match_f1_from(docs: DataFrame) -> DataFrame:
    """The full scorer over a (doc_id, text) frame — shared with
    tools/stress_check.py's ``span_f1`` stage so the stress row
    always measures the shipping shape."""
    docs_t = docs.select("doc_id", F.split("text", " ").alias("ws"))
    toks = docs_t.select(
        "doc_id", "ws", F.posexplode("ws").alias("p0", "tok")
    )
    gold = (
        toks.filter(
            (F.col("tok") == _SP_A)
            # F.get is 0-indexed and NULL-safe past the end (ANSI
            # element_at would throw on the final token's lookahead)
            & (F.get("ws", F.col("p0") + 1) == _SP_B)
        )
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("start_pos"))
    )

    h60 = portable_hash60

    h_span = h60(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("start_pos").cast("string"),
            F.lit(":sp"),
        )
    )
    perturbed = (
        gold.withColumn("h", h_span)
        .filter(F.col("h") % _SP_MOD != 0)
        .select(
            "doc_id",
            F.when(
                F.col("h") % _SP_MOD == 1, F.col("start_pos") + 1
            )
            .otherwise(F.col("start_pos"))
            .alias("start_pos"),
        )
    )
    spurious = docs_t.filter(
        h60(F.concat(F.col("doc_id").cast("string"), F.lit(":spur")))
        % _SP_SPUR_MOD
        == 0
    ).select("doc_id", (F.col("doc_id") % 3).cast("long").alias("start_pos"))
    pred = perturbed.unionByName(spurious).distinct()
    tp = gold.join(pred, ["doc_id", "start_pos"]).agg(
        F.count(F.lit(1)).cast("long").alias("tp")
    )
    ng = gold.agg(F.count(F.lit(1)).cast("long").alias("n_gold"))
    np_ = pred.agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    return (
        ng.crossJoin(np_)
        .crossJoin(tp)
        .select(
            "n_gold",
            "n_pred",
            "tp",
            round_div(F.col("tp") * 1.0, F.col("n_pred"), 6).alias(
                "precision_"
            ),
            round_div(F.col("tp") * 1.0, F.col("n_gold"), 6).alias(
                "recall_"
            ),
            round_div(
                F.col("tp") * 2.0, F.col("n_pred") + F.col("n_gold"), 6
            ).alias("f1"),
        )
    )


# --------------------------------------------------------------------
# rouge_l_eval_overlap
# --------------------------------------------------------------------

_RL_EVAL_MOD = 41  # doc_id % 41 == 0 plays the reference set (ROUGE-N idiom)
_RL_DROP = 3  # every 3rd reference token dropped from the candidate
_RL_MID = "zz7"  # alien token spliced mid-candidate
_RL_TAIL = "zz9"  # alien tail token


def _rl_cand_sql() -> str:
    # kept = reference minus every 3rd token; candidate = first half of
    # kept ++ [mid alien] ++ second half ++ [lead token, tail alien]
    # nested list_concat: the installed DuckDB's list_concat is binary
    return (
        f"list_concat(list_concat(list_concat("
        f"kept[1 : len(kept) // 2], ['{_RL_MID}']),"
        f" kept[len(kept) // 2 + 1 :]),"
        f" [ref_ws[1], '{_RL_TAIL}'])"
    )


def _rl_oracle() -> str:
    return f"""
    WITH RECURSIVE refs AS (
      SELECT doc_id, string_split(text, ' ') AS ref_ws,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE doc_id % {_RL_EVAL_MOD} = 0
    ),
    keptt AS (
      SELECT doc_id, ref_ws, n,
             [ref_ws[i] FOR i IN range(1, n + 1)
              IF i % {_RL_DROP} != 0] AS kept
      FROM refs
    ),
    pairs AS (
      SELECT doc_id, ref_ws, n, {_rl_cand_sql()} AS cand_ws FROM keptt
    ),
    p2 AS (
      SELECT doc_id, ref_ws, n, cand_ws, len(cand_ws) AS m FROM pairs
    ),
    dp AS (
      SELECT doc_id, 0 AS i,
             list_transform(range(0, m + 1), x -> 0) AS row
      FROM p2
      UNION ALL
      -- row i from row i-1: cur[j] = max_k<=j max(prev[k-1]+eq_k,
      -- prev[k]); the eq branch alone when tokens differ is dominated
      -- by prev[k] (monotone rows), so the CASE collapses to 0
      SELECT p.doc_id, d.i + 1,
        list_concat([0], list_transform(range(1, p.m + 1), j ->
          list_max(list_transform(range(1, j + 1), k ->
            greatest(
              d.row[k + 1],
              CASE WHEN p.ref_ws[d.i + 1] = p.cand_ws[k]
                   THEN d.row[k] + 1 ELSE 0 END)))))
      FROM dp d JOIN p2 p USING (doc_id)
      WHERE d.i + 1 <= p.n
    )
    SELECT d.doc_id,
           CAST(d.row[p.m + 1] AS BIGINT) AS lcs_len,
           CAST(p.m AS BIGINT) AS lc,
           CAST(p.n AS BIGINT) AS lr,
           {sql_round_div('d.row[p.m + 1] * 1.0', 'p.m', 6)}
             AS rouge_l_p,
           {sql_round_div('d.row[p.m + 1] * 1.0', 'p.n', 6)}
             AS rouge_l_r,
           {sql_round_div('2.0 * d.row[p.m + 1]', 'p.m + p.n', 6)}
             AS rouge_l_f1
    FROM dp d JOIN p2 p USING (doc_id)
    WHERE d.i = p.n
    ORDER BY d.doc_id
    """


@pandas_udf(T.LongType())
def _lcs_len(ref: pd.Series, cand: pd.Series) -> pd.Series:
    """Exact int64 LCS length per (ref, cand) token-array pair: the
    max-form row DP with the prefix max as np.maximum.accumulate —
    the same rows the oracle's recursive CTE materializes."""
    out = np.zeros(len(ref), dtype=np.int64)
    for idx in range(len(ref)):
        b = np.asarray(cand.iloc[idx], dtype=object)
        m = b.shape[0]
        prev = np.zeros(m + 1, dtype=np.int64)
        if m:
            cur = np.empty(m + 1, dtype=np.int64)
            for x in ref.iloc[idx]:
                eq = (b == x).astype(np.int64)
                base = np.maximum(prev[1:], prev[:-1] + eq)
                cur[0] = 0
                np.maximum.accumulate(base, out=cur[1:])
                prev, cur = cur, prev
        out[idx] = prev[m]
    return pd.Series(out)


@register(
    "rouge_l_eval_overlap",
    _rl_oracle(),
    doc="ROUGE-L (LCS) generation-evaluation overlap — the sequence-"
    "sensitive complement to the clipped ROUGE-1/2: longest common "
    "subsequence between each bounded reference doc and its planted "
    "candidate (every 3rd token dropped, alien mid-splice, repeated "
    "lead + junk tail), P/R/F1 over integer LCS lengths via round_div. "
    "Exact integer DP on BOTH engines: Spark runs the max-form row DP "
    "as an Arrow-batched np.maximum.accumulate kernel (no "
    "interpreted lambdas); the DuckDB twin "
    "replays the identical rows with a RECURSIVE CTE whose "
    "list_max(list_transform(...)) inner fold IS the row's prefix "
    "max — the registry's first sequence-alignment query, and it "
    "keeps the zero-rows-only invariant. 100 TB: map-only, zero "
    "shuffle; the quadratic is per-pair document length, the "
    "reference set is bounded by definition.",
)
def rouge_l_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rouge_l_eval_overlap_from(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _RL_EVAL_MOD == 0)
        .select("doc_id", "text")
    )


def rouge_l_eval_overlap_from(refs: DataFrame) -> DataFrame:
    """The full scorer over a (doc_id, text) reference frame — shared
    with tools/stress_check.py's stress stage so the stress row always
    measures the shipping shape."""
    pairs = (
        refs.select("doc_id", F.split("text", " ").alias("ref_ws"))
        .select(
            "doc_id",
            "ref_ws",
            F.filter(
                "ref_ws", lambda x, i: (i + 1) % _RL_DROP != 0
            ).alias("kept"),
        )
        .select(
            "doc_id",
            "ref_ws",
            F.expr(
                f"concat("
                f"slice(kept, 1, size(kept) div 2),"
                f" array('{_RL_MID}'),"
                f" slice(kept, size(kept) div 2 + 1,"
                f"       size(kept) - size(kept) div 2),"
                f" array(element_at(ref_ws, 1), '{_RL_TAIL}'))"
            ).alias("cand_ws"),
        )
    )
    scored = pairs.select(
        "doc_id",
        _lcs_len("ref_ws", "cand_ws").alias("lcs_len"),
        F.size("cand_ws").cast("long").alias("lc"),
        F.size("ref_ws").cast("long").alias("lr"),
    )
    return scored.select(
        "doc_id",
        "lcs_len",
        "lc",
        "lr",
        round_div(F.col("lcs_len") * 1.0, F.col("lc"), 6).alias(
            "rouge_l_p"
        ),
        round_div(F.col("lcs_len") * 1.0, F.col("lr"), 6).alias(
            "rouge_l_r"
        ),
        round_div(
            F.col("lcs_len") * 2.0, F.col("lc") + F.col("lr"), 6
        ).alias("rouge_l_f1"),
    ).orderBy("doc_id")
