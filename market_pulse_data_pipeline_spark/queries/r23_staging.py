"""The r23 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r23_staging.py keeps the semantic pins.

The three close real gaps:

- ``t_closeness_check`` — completes the registered privacy-audit
  triad: k_anonymity_check audits group SIZE, l_diversity_check
  audits sensitive-value DIVERSITY, and this audits sensitive-value
  DISTRIBUTION (Li, Li & Venkatasubramanian 2007): a group can be
  k-anonymous AND l-diverse yet still leak when its sensitive
  distribution skews far from the global one (skewness attack). For
  the ORDERED sensitive attribute (order priority), the distance is
  the Earth Mover's Distance = sum_i |cumsum_i(P - Q)| / (m - 1),
  computed entirely in exact integers via the common-denominator form
  (group counts x N - global counts x G), with ONE rounding at the
  end through the shared decimal route and the t = 1/4 alert an exact
  cross-multiplied comparison — the tv_distance_source_drift
  discipline applied to privacy. Same quasi-identifier grain as
  l_diversity_check, so the two audits compose into one release gate.
- ``auc_quality_classifier`` — exact tie-aware ROC-AUC of a quality
  score against planted binary labels, PER LANGUAGE (the
  classifier-bias question every corpus-quality pipeline must answer
  before trusting one threshold across languages). The standard
  rank-statistic identity AUC = P(score_pos > score_neg) +
  P(=)/2 is computed from a score histogram — never doc pairs and
  never a global rank: one corpus aggregate to (lang, score) cells,
  a lang-PARTITIONED cumulative window over the score domain, and
  the doubled numerator sum_s pos(s)*(2*neg_below(s) + neg(s)) stays
  an exact integer until the single final division. Complements
  quality_calibration_ece (calibration) with discrimination.
- ``unimax_epoch_cap_allocation`` — UniMax-style source sampling
  (Chung et al. 2023, "UniMax: Fairer and More Effective Language
  Sampling for Large-Scale Multilingual Pretraining"): allocate a
  token budget across sources as uniformly as possible subject to
  per-source repetition caps (cap_s = epoch-limit x source tokens).
  The exact integer waterfill: sources ordered by (cap, source), a
  source is capped iff prefix_i + cap_i*(K - rank_i) <= B (the
  per-row predicate equals the sequential fill because that left-hand
  side is monotone in rank), survivors split the remainder by integer DIV
  with largest-remainder ties to the smallest caps — allocations sum
  to B EXACTLY (pytest-pinned). Completes the mixture family
  (source_mixture_weights, mixture_temperature_weights, DoReMi,
  DSIR) with the budget-constrained variant production actually runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)


# --------------------------------------------------------------------
# t_closeness_check
# --------------------------------------------------------------------

_TC_BAL_BUCKET = 250  # same QI grain as l_diversity_check
_TC_NUM = 1  # t = 1/4: alert when EMD > 0.25
_TC_DEN = 4


def _tcl_oracle() -> str:
    return f"""
    WITH j AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             CAST(floor(c.c_acctbal / {_TC_BAL_BUCKET}) AS BIGINT)
               AS bal_bucket,
             o.o_orderpriority AS pr
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    grp AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket, pr,
             COUNT(*) AS gcnt
      FROM j GROUP BY 1, 2, 3, 4
    ),
    gl AS (SELECT pr, SUM(gcnt) AS n FROM grp GROUP BY 1),
    gtot AS (SELECT SUM(n) AS tot_n, COUNT(*) AS m FROM gl),
    gsz AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket, SUM(gcnt) AS gsize
      FROM grp GROUP BY 1, 2, 3
    ),
    dense AS (
      SELECT gs.c_nationkey, gs.c_mktsegment, gs.bal_bucket,
             gl.pr, gl.n, COALESCE(g.gcnt, 0) AS gcnt, gs.gsize
      FROM gsz gs CROSS JOIN gl
      LEFT JOIN grp g
        ON g.c_nationkey = gs.c_nationkey
       AND g.c_mktsegment = gs.c_mktsegment
       AND g.bal_bucket = gs.bal_bucket
       AND g.pr = gl.pr
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket, gsize,
             SUM(gcnt * (SELECT tot_n FROM gtot) - n * gsize)
               OVER (PARTITION BY c_nationkey, c_mktsegment, bal_bucket
                     ORDER BY pr ROWS UNBOUNDED PRECEDING) AS c
      FROM dense
    )
    SELECT c_nationkey, c_mktsegment, bal_bucket,
           CAST(gsize AS BIGINT) AS n_orders,
           CAST(SUM(ABS(c)) AS BIGINT) AS emd_num,
           {sql_round_div(
               'SUM(ABS(c))',
               '((SELECT m FROM gtot) - 1) * gsize * (SELECT tot_n FROM gtot)',
           )} AS emd,
           {_TC_DEN} * SUM(ABS(c))
             > {_TC_NUM} * ((SELECT m FROM gtot) - 1) * gsize
               * (SELECT tot_n FROM gtot) AS violates_t
    FROM cum
    GROUP BY c_nationkey, c_mktsegment, bal_bucket, gsize
    ORDER BY c_nationkey, c_mktsegment, bal_bucket
    """


def t_closeness_check_from(
    orders: DataFrame, cust: DataFrame
) -> DataFrame:
    """The full t-closeness pipeline over (o_custkey,
    o_orderpriority) x (c_custkey, c_nationkey, c_mktsegment,
    c_acctbal) frames — shared with tools/stress_check.py's
    ``t_closeness`` stage so the stress row always measures the
    shipping shape."""
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _TC_BAL_BUCKET)
        .cast("long")
        .alias("bal_bucket"),
        F.col("o_orderpriority").alias("pr"),
    )
    # the ONLY corpus-sized aggregate; every later frame is bounded by
    # QI-domain x sensitive-domain. localCheckpoint folds the plan so
    # the customer⋈orders join + aggregate runs ONCE — grp feeds three
    # consumers (gl, gsz, dense's left join) and without the fold each
    # re-derives it from the base scans (audited 11→9 exchanges,
    # 8→2 scans, 6→3 broadcasts; the survivors are all QI-bounded
    # post-checkpoint frames). The frame is QI×sensitive-domain bounded
    # (~6.5k rows at sf0.1), so the checkpoint is model-sized state;
    # blocks release with the reference.
    grp = (
        j.groupBy("c_nationkey", "c_mktsegment", "bal_bucket", "pr")
        .agg(F.count(F.lit(1)).alias("gcnt"))
        .localCheckpoint(eager=True)
    )
    gl = grp.groupBy("pr").agg(F.sum("gcnt").alias("n"))
    gtot = gl.agg(
        F.sum("n").alias("tot_n"), F.count(F.lit(1)).alias("m")
    )
    gsz = grp.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.sum("gcnt").alias("gsize")
    )
    dense = (
        gsz.crossJoin(F.broadcast(gl))
        .join(
            grp,
            ["c_nationkey", "c_mktsegment", "bal_bucket", "pr"],
            "left",
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_bucket",
            "pr",
            "n",
            F.coalesce("gcnt", F.lit(0)).alias("gcnt"),
            "gsize",
        )
        .crossJoin(F.broadcast(gtot))
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .orderBy("pr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dense.withColumn(
        "c",
        F.sum(
            F.col("gcnt") * F.col("tot_n") - F.col("n") * F.col("gsize")
        ).over(w),
    )
    return (
        cum.groupBy(
            "c_nationkey", "c_mktsegment", "bal_bucket", "gsize"
        )
        .agg(
            F.sum(F.abs("c")).alias("num"),
            F.first("m").alias("m"),
            F.first("tot_n").alias("tot_n"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_bucket",
            F.col("gsize").cast("long").alias("n_orders"),
            F.col("num").cast("long").alias("emd_num"),
            round_div(
                F.col("num"),
                (F.col("m") - 1) * F.col("gsize") * F.col("tot_n"),
            ).alias("emd"),
            (
                F.lit(_TC_DEN) * F.col("num")
                > F.lit(_TC_NUM)
                * (F.col("m") - 1)
                * F.col("gsize")
                * F.col("tot_n")
            ).alias("violates_t"),
        )
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    )


@register(
    "t_closeness_check",
    _tcl_oracle(),
    bench=True,
    doc=f"t-closeness audit (t = {_TC_NUM}/{_TC_DEN}; Li, Li & "
    "Venkatasubramanian 2007) — the disclosure k-anonymity AND "
    "l-diversity both miss: a group whose sensitive-value "
    "DISTRIBUTION skews far from the global one leaks through the "
    "skew even when it is large and diverse. Ordered sensitive "
    "attribute (order priority), so distance = Earth Mover's "
    "Distance = sum over the cumulative |P - Q| gaps / (m-1), kept "
    "in exact integers via the common-denominator form (gcnt*N - "
    "n*G cumulatives; the tv_distance discipline applied to "
    "privacy); ONE final decimal-route rounding and the alert an "
    "exact cross-multiplied comparison, so the flag can never "
    "disagree across engines on a tie. Same quasi-identifier grain "
    "as l_diversity_check (nation, segment, balance bucket) — the "
    "fixture yields both violating and compliant groups at every "
    "checked scale factor. 100 TB shape: ONE fact-dim join feeding "
    "ONE hash aggregate to (QI, sensitive) cells — everything "
    "after is bounded by QI-domain x sensitive-domain (m=5), with "
    "the cumulative window PARTITIONED by group, never global.",
)
def t_closeness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t_closeness_check_from(
        t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority"),
        t(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
        ),
    )


# --------------------------------------------------------------------
# auc_quality_classifier
# --------------------------------------------------------------------

_AUC_SBUCKET = 20  # score = n_chars div 20 (bucketed -> real ties)
_AUC_NOISE = 31  # label noise modulus (comparable to the score spread)
_AUC_TH = 30  # label threshold: y = 1 iff score + doc_id % 31 >= 30


def _auc_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT lang, n_chars // {_AUC_SBUCKET} AS s,
             CASE WHEN (n_chars // {_AUC_SBUCKET}) + (doc_id % {_AUC_NOISE})
                  >= {_AUC_TH} THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    h AS (
      SELECT lang, s, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM d GROUP BY 1, 2
    ),
    c AS (
      SELECT lang, s, pos, neg,
             COALESCE(SUM(neg) OVER (PARTITION BY lang ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM h
    )
    SELECT lang,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS auc_num2,
           {sql_round_div(
               'SUM(pos * (2 * neg_below + neg))',
               '2 * SUM(pos) * SUM(neg)',
           )} AS auc
    FROM c GROUP BY lang ORDER BY lang
    """


def auc_quality_classifier_from(docs: DataFrame) -> DataFrame:
    """The full per-lang AUC pipeline over a (doc_id, lang, n_chars)
    frame — shared with tools/stress_check.py's ``auc_per_lang`` stage
    so the stress row always measures the shipping shape."""
    s = F.expr(f"n_chars div {_AUC_SBUCKET}")
    y = F.when(
        s + F.col("doc_id") % _AUC_NOISE >= _AUC_TH, F.lit(1)
    ).otherwise(F.lit(0))
    d = docs.select("lang", s.alias("s"), y.alias("y"))
    h = d.groupBy("lang", "s").agg(
        F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = h.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    return (
        c.groupBy("lang")
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("neg").cast("long").alias("n_neg"),
            F.sum(
                F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))
            )
            .cast("long")
            .alias("auc_num2"),
        )
        .select(
            "lang",
            "n_pos",
            "n_neg",
            "auc_num2",
            round_div(
                F.col("auc_num2"), 2 * F.col("n_pos") * F.col("n_neg")
            ).alias("auc"),
        )
        .orderBy("lang")
    )


@register(
    "auc_quality_classifier",
    _auc_oracle(),
    doc="exact tie-aware ROC-AUC of a quality score against binary "
    "labels, PER LANGUAGE — the classifier-bias audit run before "
    "trusting one quality threshold across languages (a score can "
    "discriminate well on en and barely beat chance on zh; the "
    "fixture's planted labels land AUC ~0.6-0.85 across langs at "
    "every checked scale factor, never degenerate 0.5 or 1.0). "
    "Identity: AUC = P(s_pos > s_neg) + P(tie)/2, computed from the "
    "score HISTOGRAM — sum_s pos(s) * (2*neg_below(s) + neg(s)) over "
    "2*n_pos*n_neg — never doc pairs and never a global rank; the "
    "doubled numerator stays an exact integer until the single final "
    "decimal-route division. Labels are the house planting idiom "
    "(score + doc_id-residue noise >= threshold), so correlation is "
    "real but imperfect. Complements quality_calibration_ece: ECE "
    "audits calibration, this audits discrimination. 100 TB shape: "
    "ONE corpus aggregate to (lang, score-bucket) cells, a "
    "lang-PARTITIONED cumulative window over the bounded score "
    "domain, one final per-lang fold — output is lang-domain rows.",
)
def auc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return auc_quality_classifier_from(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    )


# --------------------------------------------------------------------
# unimax_epoch_cap_allocation
# --------------------------------------------------------------------

_UX_CAP_DEN = 2  # cap = n_tokens * (1 + src_num % 3) / 2 -> 0.5/1/1.5 epochs
_UX_B_NUM = 3  # budget = 3/4 of total corpus tokens
_UX_B_DEN = 4


def _unimax_oracle() -> str:
    return f"""
    WITH src AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    caps AS (
      SELECT source, n_tokens,
             (n_tokens * (1 + CAST(substr(source, 4) AS BIGINT) % 3))
               // {_UX_CAP_DEN} AS cap
      FROM src
    ),
    tot AS (
      SELECT SUM(n_tokens) AS tot_tokens,
             CAST(COUNT(*) AS BIGINT) AS k,
             (SUM(n_tokens) * {_UX_B_NUM}) // {_UX_B_DEN} AS b
      FROM caps
    ),
    rk AS (
      SELECT a.source, a.n_tokens, a.cap,
             CAST(COUNT(*) AS BIGINT) AS rnk,
             SUM(b.cap) AS pref
      FROM caps a JOIN caps b
        ON (b.cap, b.source) <= (a.cap, a.source)
      GROUP BY a.source, a.n_tokens, a.cap
    ),
    flagged AS (
      SELECT rk.*,
             rk.pref + rk.cap * ((SELECT k FROM tot) - rk.rnk)
               <= (SELECT b FROM tot) AS capped
      FROM rk
    ),
    cs AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN cap END), 0)
               AS BIGINT) AS capped_sum,
             CAST(COALESCE(SUM(CASE WHEN capped THEN 1 END), 0)
               AS BIGINT) AS n_capped
      FROM flagged
    ),
    alloc AS (
      SELECT f.source, f.n_tokens, f.cap, f.capped,
             CASE WHEN f.capped THEN f.cap
                  ELSE ((SELECT b FROM tot) - (SELECT capped_sum FROM cs))
                         // ((SELECT k FROM tot) - (SELECT n_capped FROM cs))
                       + CASE WHEN f.rnk - (SELECT n_capped FROM cs)
                              <= ((SELECT b FROM tot)
                                  - (SELECT capped_sum FROM cs))
                                 % ((SELECT k FROM tot)
                                    - (SELECT n_capped FROM cs))
                              THEN 1 ELSE 0 END
             END AS alloc
      FROM flagged f
    )
    SELECT source, n_tokens,
           CAST(cap AS BIGINT) AS cap_tokens,
           CAST(alloc AS BIGINT) AS alloc_tokens,
           capped AS is_capped,
           {sql_round_div('alloc', 'n_tokens')} AS epochs_used
    FROM alloc ORDER BY source
    """


def unimax_epoch_cap_allocation_from(docs: DataFrame) -> DataFrame:
    """The full waterfill pipeline over a (source, text) frame —
    shared with tools/stress_check.py's ``unimax_alloc`` stage so the
    stress row always measures the shipping shape."""
    # the ONLY corpus-sized pass: per-source token totals
    src = docs.select(
        "source", F.size(F.split("text", " ")).alias("tk")
    ).groupBy("source").agg(F.sum("tk").cast("long").alias("n_tokens"))
    caps = src.select(
        "source",
        "n_tokens",
        F.expr(
            f"(n_tokens * (1 + CAST(substr(source, 4) AS BIGINT) % 3))"
            f" div {_UX_CAP_DEN}"
        ).alias("cap"),
    )
    tot = caps.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(
            f"(SUM(n_tokens) * {_UX_B_NUM}) div {_UX_B_DEN}"
        ).alias("b"),
    )
    a = caps.alias("a")
    b = caps.alias("b")
    rk = (
        a.join(
            F.broadcast(b),
            F.struct(F.col("b.cap"), F.col("b.source"))
            <= F.struct(F.col("a.cap"), F.col("a.source")),
        )
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.n_tokens").alias("n_tokens"),
            F.col("a.cap").alias("cap"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("rnk"),
            F.sum("b.cap").alias("pref"),
        )
    )
    flagged = rk.crossJoin(F.broadcast(tot)).withColumn(
        "capped",
        F.col("pref") + F.col("cap") * (F.col("k") - F.col("rnk"))
        <= F.col("b"),
    )
    cs = flagged.agg(
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0)
        )
        .cast("long")
        .alias("capped_sum"),
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.lit(1))), F.lit(0)
        )
        .cast("long")
        .alias("n_capped"),
    )
    # conditional, NOT coalesce-over-division: under ANSI mode the DIV
    # by a zero uncapped count must never be evaluated on the U = 0
    # branch (the largest_remainder discipline)
    u = F.col("k") - F.col("n_capped")
    spare = F.col("b") - F.col("capped_sum")
    alloc = F.when(F.col("capped"), F.col("cap")).otherwise(
        F.when(u == 0, F.lit(0)).otherwise(
            F.expr("(b - capped_sum) div (k - n_capped)")
            + F.when(
                F.col("rnk") - F.col("n_capped")
                <= F.pmod(spare, u),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
    )
    return (
        flagged.crossJoin(F.broadcast(cs))
        .select(
            "source",
            "n_tokens",
            F.col("cap").cast("long").alias("cap_tokens"),
            alloc.cast("long").alias("alloc_tokens"),
            F.col("capped").alias("is_capped"),
            round_div(alloc, F.col("n_tokens")).alias("epochs_used"),
        )
        .orderBy("source")
    )


@register(
    "unimax_epoch_cap_allocation",
    _unimax_oracle(),
    doc="UniMax source sampling (Chung et al. 2023): spread a token "
    "budget across sources as uniformly as possible subject to "
    "per-source repetition caps — the budget-constrained mixture "
    "variant production training actually runs, completing the "
    "mixture family (source_mixture_weights / temperature / DoReMi / "
    "DSIR reweight proportions; this allocates an integer BUDGET). "
    "Exact integer waterfill with NO window and no driver loop: "
    "sources totally ordered by (cap, source) via a K-row broadcast "
    "self-join (K = source count), a source is capped iff "
    "prefix_i + cap_i*(K - rank_i) <= B — the per-row predicate "
    "equals the sequential fill because that expression is monotone "
    "non-decreasing in rank — and survivors split the remainder by "
    "integer DIV with largest-remainder ties to the smallest caps. "
    "Allocations sum to B EXACTLY (pytest pin; B and the caps derive "
    "from the corpus itself so the fixture exercises both capped and "
    "uncapped sources at every checked scale factor, 7-8 capped / "
    "12-13 uncapped). The all-capped degenerate case (U = 0) takes a "
    "guarded branch BEFORE any division is evaluated — the ANSI-mode "
    "discipline from largest_remainder. 100 TB shape: ONE corpus "
    "aggregate to per-source token counts; everything after runs on "
    "a source-domain frame (tens of rows) with broadcast joins.",
)
def unimax_epoch_cap_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return unimax_epoch_cap_allocation_from(
        t(spark, sf_dir, "documents").select("source", "text")
    )
