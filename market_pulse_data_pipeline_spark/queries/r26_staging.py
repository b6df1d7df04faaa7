"""Round-26-batch queries: PMI collocation mining, Cohen's kappa,
and bootstrap confidence intervals.

Each one is registered with a DuckDB value-hash oracle, checked by
tests/test_queries_oracle.py; tests/test_r26_staging.py keeps the
semantic replays.

The three open capability families no other registered query touches:

- ``pmi_collocation_mining`` — phrase DISCOVERY (the word2phrase
  score of Mikolov et al. 2013, "Distributed Representations of
  Words and Phrases"): score(a,b) = (count(ab) − δ)·N /
  (count(a)·count(b)), accept above a threshold — the step that
  builds multi-word vocabulary entries and feeds gazetteers
  (gazetteer_phrase_match and flashtext_multi_replace CONSUME a
  phrase table; nothing registered DISCOVERS one). The accept flag
  is an exact cross-multiplied integer comparison through
  DECIMAL(38,0) products (overflow-safe at any corpus size); the
  reported score goes through the shared decimal rounding route.
  Planted suffix bigrams per doc_id residue (the house idiom) give
  true collocations — tokens that co-occur far above independence —
  while the fixture's near-uniform natural bigrams (score ≈ 1.3)
  witness rejection; the shared 'qq' anchor in both plants exercises
  the marginal-count discount.
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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.dedup import (
    portable_hash60,
)
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)

# --------------------------------------------------------------------
# pmi_collocation_mining
# --------------------------------------------------------------------

_PMI_DELTA = 5  # word2phrase discount: kills rare-pair noise
_PMI_MIN = 5  # bigram min count (the df-cap discipline)
# accept when (cab - delta) * N * THETA_DEN > THETA_NUM * ca * cb,
# i.e. score > 2 — above every natural near-uniform bigram (~1.3),
# below every planted collocation
_PMI_THETA_NUM = 2
_PMI_THETA_DEN = 1
# planted suffixes by doc_id residue: 'qq ww' and 'qq zz' are true
# collocations (their tokens never appear apart); the shared 'qq'
# anchor makes the unigram marginal exceed either bigram count
_PMI_MOD_A = 7
_PMI_MOD_B = 11


def _pmi_text_sql() -> str:
    return (
        f"text || CASE WHEN doc_id % {_PMI_MOD_A} = 0 THEN ' qq ww' "
        f"WHEN doc_id % {_PMI_MOD_B} = 0 THEN ' qq zz' ELSE '' END"
    )


def _pmi_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split({_pmi_text_sql()}, ' ') AS ws
      FROM documents
    ),
    uni AS (SELECT UNNEST(ws) AS tok FROM toks),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni),
    uc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok
    ),
    bi AS (
      SELECT ws[i] AS token_a, ws[i + 1] AS token_b
      FROM toks, UNNEST(range(1, len(ws))) AS u(i)
    ),
    bc AS (
      SELECT token_a, token_b, CAST(COUNT(*) AS BIGINT) AS cnt_ab
      FROM bi GROUP BY 1, 2
      HAVING COUNT(*) >= {_PMI_MIN}
    )
    SELECT bc.token_a, bc.token_b, bc.cnt_ab,
           ua.c AS cnt_a, ub.c AS cnt_b,
           {sql_round_div(
               f"(bc.cnt_ab - {_PMI_DELTA}) * n.n",
               "ua.c * ub.c",
           )} AS score,
           CAST(CASE WHEN CAST(bc.cnt_ab - {_PMI_DELTA} AS DECIMAL(38,0))
                          * n.n * {_PMI_THETA_DEN}
                        > CAST({_PMI_THETA_NUM} AS DECIMAL(38,0))
                          * ua.c * ub.c
                     THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM bc
    JOIN uc ua ON ua.tok = bc.token_a
    JOIN uc ub ON ub.tok = bc.token_b
    CROSS JOIN n
    ORDER BY token_a, token_b
    """


@register(
    "pmi_collocation_mining",
    _pmi_oracle(),
    doc="collocation / phrase discovery by the word2phrase score "
    "(Mikolov et al. 2013): score(a,b) = (count(ab) - delta) * N / "
    "(count(a) * count(b)), accept above theta - the step that BUILDS "
    "the phrase tables gazetteer_phrase_match and "
    "flashtext_multi_replace consume. The accept flag is an exact "
    "cross-multiplied comparison with DECIMAL(38,0) products (BIGINT "
    "products overflow at warehouse token counts; the decimal cast is "
    "exact and overflow-safe to 1e38), the reported score one decimal "
    "rounding. The delta discount kills rare-pair noise and the "
    "min-count HAVING bounds the output by real repetition (the "
    "df-cap discipline). Planted residue-keyed suffix bigrams are the "
    "positive witnesses (tokens co-occurring only together); the "
    "fixture's near-uniform natural bigrams (score ~1.3 < theta=2) "
    "witness rejection; the shared plant anchor 'qq' exercises the "
    "marginal discount (its unigram count exceeds either bigram's). "
    "100 TB shape: one map-side bigram explode (arrays_zip of two "
    "slices - no position join), two hash aggregates with map-side "
    "combine, two equi-joins of bigram counts against the unigram "
    "table shuffled on token (vocabulary-keyed, AQE-skew-safe), and a "
    "1-row N broadcast. Output is bounded by bigrams above the min "
    "count - real repetition, never the token stream.",
)
def pmi_collocation_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pmi_collocation_mining_from(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


def pmi_collocation_mining_from(docs: DataFrame) -> DataFrame:
    """The full mining pipeline over a (doc_id, text) frame — shared
    with tools/stress_check.py's ``pmi_mine`` stage so the stress row
    always measures the shipping shape."""
    planted = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % _PMI_MOD_A == 0, F.lit(" qq ww"))
        .when(F.col("doc_id") % _PMI_MOD_B == 0, F.lit(" qq zz"))
        .otherwise(F.lit("")),
    )
    toks = docs.select("doc_id", F.split(planted, " ").alias("ws"))
    uni = toks.select(F.explode("ws").alias("tok"))
    n_tot = uni.agg(F.count(F.lit(1)).cast("long").alias("n"))
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nw = F.size("ws")
    pairs = F.arrays_zip(
        F.slice("ws", 1, nw - 1).alias("a"),
        F.expr("slice(ws, 2, size(ws) - 1)").alias("b"),
    )
    bc = (
        toks.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("token_a"), F.col("p.b").alias("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= _PMI_MIN)
    )
    ua = uc.select(F.col("tok").alias("token_a"), F.col("c").alias("cnt_a"))
    ub = uc.select(F.col("tok").alias("token_b"), F.col("c").alias("cnt_b"))
    dec = "decimal(38,0)"
    joined = (
        bc.join(ua, "token_a")
        .join(ub, "token_b")
        .crossJoin(F.broadcast(n_tot))
    )
    return joined.select(
        "token_a",
        "token_b",
        "cnt_ab",
        "cnt_a",
        "cnt_b",
        round_div(
            (F.col("cnt_ab") - _PMI_DELTA) * F.col("n"),
            F.col("cnt_a") * F.col("cnt_b"),
        ).alias("score"),
        F.when(
            (F.col("cnt_ab") - _PMI_DELTA).cast(dec)
            * F.col("n")
            * _PMI_THETA_DEN
            > F.lit(_PMI_THETA_NUM).cast(dec)
            * F.col("cnt_a")
            * F.col("cnt_b"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("accepted"),
    ).orderBy("token_a", "token_b")


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
