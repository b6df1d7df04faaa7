"""The r17 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r17_staging.py keeps the semantic pins.

The three close distinct holes:

- ``semdedup_scaled_prune`` — VERDICT r10 item 4's registered-witness
  path: SemDeDup with **k ∝ corpus size** (k = ceil(N / 50), cluster
  POPULATION pinned instead of cluster COUNT), which is the published
  algorithm's actual 100 TB posture — the registered
  ``semdedup_prune`` keeps k at a constant 10, which is faithful to
  the paper's small-scale setup but lets per-cluster populations (and
  the within-cluster quadratic) grow with the corpus. Here both
  engines derive k from the SAME count — the Spark side from a
  bounded 1-row action, the oracle from a scalar subquery in the
  shared unrolled-Lloyd generator's init LIMIT — so the value hash
  covers the scaling rule itself.
- ``tv_distance_source_drift`` — distribution-level drift between two
  corpus snapshots, per source: total-variation distance over
  length-bucket histograms, TV = Σ|aᵢ·m − bᵢ·n| / (2·n·m), computed
  ENTIRELY in exact integers (one rounding at the very end through
  the shared decimal route; the 5% alert threshold is an exact
  cross-multiplied comparison, no float boundary anywhere).
  Complements the registered ``qc_profile_drift`` (scalar profile
  drift: counts, min/max, totals) with the histogram-shape evidence a
  corpus refresh gate actually needs — a snapshot can keep its row
  count and mean while its length distribution collapses.
- ``l_diversity_check`` — the privacy audit k-anonymity cannot
  express (Machanavajjhala et al. 2007): a group can satisfy k yet
  expose everyone in it when all members share one sensitive value.
  Distinct-l-diversity over quasi-identifier groups (nation × market
  segment × account-balance bucket) with order priority as the
  sensitive attribute; violating groups are exactly what a
  suppression pass would rewrite. Completes the registered privacy
  family (k_anonymity_check, text_pii_scan/redact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)

# --------------------------------------------------------------------
# semdedup_scaled_prune
# --------------------------------------------------------------------

_SS_POP = 50  # target cluster POPULATION — the fixed quantity at scale
_SS_ITERS = 2
_SS_DIM = 64
_SS_PLANT_OFFSET = 1_000_000_000  # same plant regime as semdedup_prune
# cos >= 0.95 as the exact-integer contract 400*dot^2 >= 361*|a|^2*|b|^2
_SS_NUM, _SS_DEN = 361, 400
# k as a SQL expression over the SAME planted-union source the Spark
# side counts — ceil(N / pop) via integer arithmetic
_SS_K_EXPR = f"SELECT (COUNT(*) + {_SS_POP - 1}) // {_SS_POP} FROM p"


def _semdedup_scaled_oracle() -> str:
    from market_pulse_data_pipeline_spark.functions.clustering import (  # noqa: PLC0415
        SNAP_SCALE,
        kmeans_oracle_sql,
    )

    final = f"""
    , asg AS (SELECT vec_id, cid AS cluster FROM %(a)s),
    n2 AS (SELECT vec_id, SUM(qv * qv) AS n2 FROM pu GROUP BY vec_id),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a JOIN asg b
        ON a.cluster = b.cluster AND a.vec_id > b.vec_id
    ),
    dots AS (
      SELECT c.id_a, c.id_b, SUM(pa.qv * pb.qv) AS dot
      FROM cand c
      JOIN pu pa ON pa.vec_id = c.id_a
      JOIN pu pb ON pb.vec_id = c.id_b AND pb.pos = pa.pos
      GROUP BY c.id_a, c.id_b
    ),
    dup AS (
      SELECT DISTINCT d.id_a AS vec_id
      FROM dots d
      JOIN n2 x ON x.vec_id = d.id_a
      JOIN n2 y ON y.vec_id = d.id_b
      WHERE d.dot >= 0
        AND {_SS_DEN} * d.dot * d.dot >= {_SS_NUM} * x.n2 * y.n2
    )
    SELECT a.vec_id, CAST(a.cluster AS INTEGER) AS cluster,
           (dup.vec_id IS NOT NULL) AS dropped
    FROM asg a LEFT JOIN dup ON dup.vec_id = a.vec_id
    ORDER BY a.vec_id
    """
    src = f"""(
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_SS_PLANT_OFFSET},
             list_transform(embedding, x -> CAST(x * 1.001 AS FLOAT))
      FROM embeddings WHERE vec_id % 13 = 0
    ) both_src"""
    return kmeans_oracle_sql(
        final,
        k=_SS_K_EXPR,
        iters=_SS_ITERS,
        dim=_SS_DIM,
        scale=SNAP_SCALE,
        src=src,
    )


@register(
    "semdedup_scaled_prune",
    _semdedup_scaled_oracle(),
    bench=True,
    doc="SemDeDup at its published 100 TB posture (VERDICT r10 item 4): "
    "k-means blocking with k ∝ CORPUS SIZE — k = ceil(N / 50), so the "
    "per-cluster population (and hence the within-cluster quadratic, "
    "the algorithm's one super-linear term) stays FIXED as the corpus "
    "grows, where the registered semdedup_prune's constant k=10 is "
    "the paper's small-scale setup. Both engines derive k from the "
    "same planted-union count: Spark via a bounded 1-row count of "
    "the fit's materialized quantized table (row-identical to the "
    "union), the DuckDB twin via a scalar subquery in the "
    "shared unrolled-Lloyd generator's init LIMIT (kmeans_oracle_sql "
    "k-as-expression) — the value hash therefore covers the scaling "
    "RULE, not just one k. Within-cluster pairwise cosine >= 0.95 as "
    "the exact-integer contract 400*dot^2 >= 361*|a|^2*|b|^2 on "
    "round(x*1e6) int64 vectors; lowest vec_id survives; planted "
    "1.001-scaled copies witness. 100 TB shape: per-assignment cost "
    "grows O(k·dim) — the documented IVF escalation (coarse-quantize "
    "first, assign within the probed cell) caps it when k reaches "
    "1e5+; centroid state stays k×dim driver-bounded; one shuffle on "
    "cluster id for the pair join, quadratic bounded per cluster BY "
    "CONSTRUCTION at every corpus size.",
)
def semdedup_scaled_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.clustering import (  # noqa: PLC0415
        kmeans_snapped_fit,
        within_cluster_pair_dots,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + _SS_PLANT_OFFSET).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 1.001).cast("float")
        ).alias("embedding"),
    )
    both = emb.unionByName(planted)
    # k is data-derived (the population-pinned scaling rule — the point
    # of this query): the fit evaluates the rule against its OWN
    # materialized quantized table (row-for-row the same frame, so the
    # same N the oracle's scalar subquery counts) instead of paying a
    # separate full scan of the planted-union plan for one count (r16).
    # emit_n2 (r17): assignment + exact int64 n2 in ONE fused Arrow
    # pass inside the fit (see semdedup_prune) — replaces the
    # interpreted per-row JVM fold this query stacked on a separate
    # ArrowEvalPython assignment.
    qv, _ = kmeans_snapped_fit(
        both,
        iters=_SS_ITERS,
        k_from_count=lambda n: (n + _SS_POP - 1) // _SS_POP,
        emit_n2=True,
    )
    # materialize the assignment once for its two consumers (pair
    # kernel + final left join) — see semdedup_prune; at scaled k
    # the per-row k x dim argmin is the dominant cost, so re-running
    # it per consumer doubles the query's compute
    qv = qv.localCheckpoint(eager=True)
    # grouped int64-matmul pair kernel (r16, see semdedup_prune): a
    # guaranteed superset of the threshold pairs; the exact decimal(38)
    # contract below is unchanged, so the dup set is bit-identical.
    pairs = within_cluster_pair_dots(qv, _SS_NUM, _SS_DEN)
    dec = "decimal(38,0)"
    d = F.col("dot").cast(dec)
    dup = (
        pairs.filter(
            (F.col("dot") >= 0)
            & (
                d * d * F.lit(_SS_DEN).cast(dec)
                >= F.col("na").cast(dec)
                * F.col("nb").cast(dec)
                * F.lit(_SS_NUM).cast(dec)
            )
        )
        .select(F.col("id_a").alias("dup_id"))
        .distinct()
    )
    return (
        qv.join(dup, qv.vec_id == dup.dup_id, "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.col("dup_id").isNotNull().alias("dropped"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------
# tv_distance_source_drift
# --------------------------------------------------------------------

_TV_BUCKET = 200  # n_chars per histogram bucket
_TV_DROP_MOD = 31  # snapshot edit: doc_id % 31 == 0 removed
_TV_GROW_MOD = 7  # snapshot edit: doc_id % 7 == 0 grows by 150 chars
_TV_GROW = 150
# alert when TV > 0.05 = 1/20, tested exactly: num/(2nm) > 1/20
# <=> 10*num > n*m (cross-multiplied integers, no float boundary)
_TV_ALERT_NUM, _TV_ALERT_DEN = 1, 20


def _tv_oracle() -> str:
    return f"""
    WITH old_h AS (
      SELECT source, n_chars // {_TV_BUCKET} AS bucket, COUNT(*) AS a
      FROM documents GROUP BY 1, 2
    ),
    new_h AS (
      SELECT source,
             (CASE WHEN doc_id % {_TV_GROW_MOD} = 0
                   THEN n_chars + {_TV_GROW} ELSE n_chars END)
               // {_TV_BUCKET} AS bucket,
             COUNT(*) AS b
      FROM documents WHERE doc_id % {_TV_DROP_MOD} <> 0 GROUP BY 1, 2
    ),
    joined AS (
      SELECT COALESCE(o.source, nw.source) AS source,
             COALESCE(o.bucket, nw.bucket) AS bucket,
             COALESCE(o.a, 0) AS a, COALESCE(nw.b, 0) AS b
      FROM old_h o FULL OUTER JOIN new_h nw
        ON o.source = nw.source AND o.bucket = nw.bucket
    ),
    tot AS (
      SELECT source, SUM(a) AS n, SUM(b) AS m,
             CAST(COUNT(*) AS BIGINT) AS n_buckets
      FROM joined GROUP BY source
    ),
    num AS (
      SELECT j.source, SUM(ABS(j.a * t.m - j.b * t.n)) AS num
      FROM joined j JOIN tot t USING (source)
      GROUP BY j.source
    )
    SELECT t.source,
           CAST(t.n AS BIGINT) AS n_old,
           CAST(t.m AS BIGINT) AS n_new,
           t.n_buckets,
           {sql_round_div('num.num', '2 * t.n * t.m')} AS tv_distance,
           ({_TV_ALERT_DEN} * num.num
             > {_TV_ALERT_NUM} * 2 * t.n * t.m) AS drift_alert
    FROM tot t JOIN num USING (source)
    ORDER BY t.source
    """


def tv_bucket_histogram(docs: DataFrame) -> DataFrame:
    """Both snapshots' length-bucket histograms from ONE corpus pass
    (round-13 plan-quality fold; was two histogram aggregates + a
    full_outer join = two corpus scans): every doc emits its
    old-snapshot bucket and, unless dropped, its new-snapshot bucket
    via a 2-element explode, and a single (source, bucket) hash
    aggregate builds BOTH histogram columns. Buckets present in only
    one snapshot come out with a=0 or b=0 — exactly the coalesced
    full_outer rows of the previous shape. At 100 TB this halves the
    corpus reads and the corpus-side shuffle is one partial-aggregated
    histogram instead of two. ``docs`` needs (doc_id, source,
    n_chars); shared with tools/stress_check.py's ``tv_drift`` stage
    so the stress evidence always measures the shipping fold."""
    tagged = docs.select(
        "source",
        F.explode(
            F.array(
                F.struct(
                    F.expr(f"n_chars div {_TV_BUCKET}").alias("bucket"),
                    F.lit(1).alias("a"),
                    F.lit(0).alias("b"),
                ),
                F.struct(
                    F.when(
                        F.col("doc_id") % _TV_DROP_MOD != 0,
                        F.expr(
                            "(CASE WHEN doc_id % {m} = 0 THEN n_chars + {g} "
                            "ELSE n_chars END) div {b}".format(
                                m=_TV_GROW_MOD, g=_TV_GROW, b=_TV_BUCKET
                            )
                        ),
                    ).alias("bucket"),
                    F.lit(0).alias("a"),
                    F.lit(1).alias("b"),
                ),
            )
        ).alias("e"),
    ).filter(F.col("e.bucket").isNotNull())
    return (
        tagged.groupBy("source", F.col("e.bucket").alias("bucket"))
        .agg(
            F.sum("e.a").cast("long").alias("a"),
            F.sum("e.b").cast("long").alias("b"),
        )
    )


@register(
    "tv_distance_source_drift",
    _tv_oracle(),
    doc="distribution-level drift gate between two corpus snapshots, "
    "per source: total-variation distance over length-bucket "
    "histograms — TV = sum_i |a_i*m - b_i*n| / (2*n*m), the "
    "common-denominator form that keeps EVERY quantity an exact "
    "integer (counts and cross-products only; ONE rounding at the "
    "very end through the shared decimal half-up route, and the 5% "
    "alert is the exact cross-multiplied comparison 20*num > 2*n*m — "
    "no float boundary anywhere, so the flag can never disagree "
    "across engines on a tie). The synthetic new snapshot (house "
    "planting idiom: every 31st doc dropped, every 7th doc grown by "
    "150 chars) moves real mass between buckets. Complements "
    "qc_profile_drift's scalar profile (a snapshot can keep count/"
    "mean/min/max while its SHAPE collapses — exactly what TV "
    "catches). 100 TB shape: when both periods derive from ONE table "
    "(this query's semantics, and the common time-sliced monitor "
    "case) a SINGLE corpus pass emits each row's per-snapshot bucket "
    "tags and one hash aggregate with map-side combine builds both "
    "histogram columns (histogram state bounded by sources x "
    "buckets, not rows); everything after the histogram is "
    "model-sized. With two physically separate snapshot tables the "
    "per-table histogram aggregate + outer join is the inherent "
    "2-scan variant — either way, persist each snapshot's histogram "
    "and successive drift checks never rescan history.",
)
def tv_distance_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # everything downstream of the one-pass histogram (see
    # tv_bucket_histogram) is bucket-domain bounded
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    joined = tv_bucket_histogram(docs)
    # the histogram frame is model-sized from here down: one aggregate
    # folds the per-source totals AND the ordered (a, b) list, and the
    # TV numerator is an order-independent integer fold over that list
    per_source = joined.groupBy("source").agg(
        F.sum("a").alias("n"),
        F.sum("b").alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.collect_list(F.struct("a", "b")).alias("hist"),
    )
    num_col = F.aggregate(
        "hist",
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.abs(x["a"] * F.col("m") - x["b"] * F.col("n")),
    )
    return (
        per_source.select(
            "source",
            F.col("n").cast("long").alias("n_old"),
            F.col("m").cast("long").alias("n_new"),
            "n_buckets",
            num_col.alias("num"),
            F.col("n").alias("_n"),
            F.col("m").alias("_m"),
        )
        .select(
            "source",
            "n_old",
            "n_new",
            "n_buckets",
            round_div(F.col("num"), 2 * F.col("_n") * F.col("_m")).alias(
                "tv_distance"
            ),
            (
                F.lit(_TV_ALERT_DEN) * F.col("num")
                > F.lit(_TV_ALERT_NUM) * 2 * F.col("_n") * F.col("_m")
            ).alias("drift_alert"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# l_diversity_check
# --------------------------------------------------------------------

_LD_L = 3  # distinct-l-diversity threshold
_LD_BAL_BUCKET = 250  # account-balance bucket width (quasi-identifier)


def _ldiv_oracle() -> str:
    return f"""
    WITH j AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             CAST(floor(c.c_acctbal / {_LD_BAL_BUCKET}) AS BIGINT)
               AS bal_bucket,
             o.o_orderpriority
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    )
    SELECT c_nationkey, c_mktsegment, bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
             AS n_sensitive,
           COUNT(DISTINCT o_orderpriority) < {_LD_L} AS violates_l
    FROM j
    GROUP BY 1, 2, 3
    ORDER BY c_nationkey, c_mktsegment, bal_bucket
    """


@register(
    "l_diversity_check",
    _ldiv_oracle(),
    doc=f"distinct-l-diversity audit (l={_LD_L}; Machanavajjhala et "
    "al. 2007) — the disclosure k-anonymity cannot see: a group can "
    "satisfy k yet expose every member when all its rows share one "
    "sensitive value (homogeneity attack). Quasi-identifiers are "
    "(nation, market segment, account-balance bucket); the sensitive "
    "attribute is order priority, reached through the natural "
    "customer-orders equi-join. Violating groups (n_sensitive < l) "
    "are exactly the rows a suppression/generalization pass would "
    "rewrite before release — the fixture yields real violations at "
    "every checked scale factor. Completes the registered privacy "
    "family: k_anonymity_check (group SIZE), text_pii_scan/redact "
    "(direct identifiers), this (sensitive-value DIVERSITY). 100 TB "
    "shape: one fact-dim equi-join then one hash aggregate whose "
    "distinct-count state is bounded by the sensitive domain (5 "
    "priorities), with group count bounded by the quasi-identifier "
    "domain, not row count.",
)
def l_diversity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _LD_BAL_BUCKET)
        .cast("long")
        .alias("bal_bucket"),
        "o_orderpriority",
    )
    return (
        j.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.count_distinct("o_orderpriority")
            .cast("long")
            .alias("n_sensitive"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_bucket",
            "n_orders",
            "n_sensitive",
            (F.col("n_sensitive") < _LD_L).alias("violates_l"),
        )
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    )
