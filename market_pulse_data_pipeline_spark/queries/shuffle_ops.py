"""Shuffle-discipline operators as hash-checked driver rows.

operators/skew.py and operators/bucketing.py carry the two layout
tools that decide whether a 100 TB job finishes — salting a hot key and
pre-bucketing a repeated join — but until this module they were only
pytest-pinned. Each query here runs the REAL operator (salted two-phase
aggregation, bucketed-table exchange-free join, bloom pre-join pruning,
small-file compaction) and hash-checks its result against a plain
relational oracle, so the driver witnesses that the scale path computes
exactly what the naive plan computes.

Scale notes per query live on the registrations; the common theme: the
result of a layout/shuffle optimization must be byte-identical to the
unoptimized semantics, which is precisely what the oracle gate proves.

- ``dynamic_partition_pruning_join`` — runtime partition pruning, THE
  join-side scan saver at 100 TB: a fact table hive-partitioned on
  the join key, joined to a filtered dimension; Spark inserts a
  dynamicpruning subquery into the fact scan so only the dimension's
  surviving keys' partitions are LISTED, let alone read. The pytest
  pin asserts the ``dynamicpruning`` expression is present in the
  executed plan — the oracle proves values, the pin proves the scan
  never touches the pruned 3/5 of the table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.dedup import portable_hash60
from market_pulse_data_pipeline_spark.operators.bucketing import (
    plan_has_shuffle,
    write_bucketed,
)
from market_pulse_data_pipeline_spark.operators.skew import salted_aggregate
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    round_sum,
    scratch,
    sql_exact_sum,
    sql_round_div,
    sql_round_sum,
    t,
)


# --------------------------------------------------------------------------
# salted two-phase aggregation
# --------------------------------------------------------------------------

@register(
    "salted_skew_aggregate",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    doc="the skew-mitigation path computes the plain aggregate's exact "
    "result: operators/skew.py::salted_aggregate spreads each grouping "
    "key over 16 salt buckets (phase 1 groups on (key, salt), phase 2 "
    "combines the partials), hash-checked against the one-level GROUP "
    "BY oracle. Value sums ride exact decimals through BOTH phases, so "
    "re-association across salts cannot change a bit. At 100 TB this "
    "is the fix for a hot key that funnels into one reducer when AQE "
    "skew handling cannot apply (single-key aggregation, not a join).",
)
def salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    agg = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            # decimal partials: phase-2 SUM of exact decimals is exact
            "total_value": (
                F.sum(F.col("value").cast("decimal(20,6)")),
                F.sum("total_value"),
            ),
            "max_value": (F.max("value"), F.max("max_value")),
        },
        salt_buckets=16,
    )
    return agg.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
        "max_value",
    )


# --------------------------------------------------------------------------
# bucketed-table co-located join
# --------------------------------------------------------------------------

@register(
    "bucketed_join_colocated",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {sql_exact_sum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="bucketed-table co-located join: lineitem and orders are "
    "materialized bucketed by order key (operators/bucketing.py::"
    "write_bucketed, 8 buckets, sorted), then sort-merge-joined — the "
    "query RAISES if the join plans a shuffle exchange, so the driver "
    "row witnesses both the exchange-free property and that the "
    "bucketed write→scan→join path reproduces the plain join's "
    "aggregate bit-for-bit. At 100 TB bucketing converts a per-query "
    "multi-TB fact↔fact shuffle into a one-time layout cost; this row "
    "is the correctness half of that trade.",
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = f"mp_bkt_{os.getpid()}"
    loc = scratch("bucket_warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(li, f"{db}.li_b", "l_orderkey", 8, "l_orderkey")
    write_bucketed(orders, f"{db}.ord_b", "o_orderkey", 8, "o_orderkey")
    joined = (
        spark.table(f"{db}.li_b")
        .hint("merge")
        .join(
            spark.table(f"{db}.ord_b").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    if plan_has_shuffle(joined):
        raise RuntimeError(
            "bucketed join planned a shuffle exchange — bucketing metadata "
            "was not honored (check spark.sql.sources.bucketing.enabled)"
        )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(20,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
    )


# --------------------------------------------------------------------------
# bloom-filter pre-join pruning
# --------------------------------------------------------------------------

_BLOOM_M = 8192  # bits
_BLOOM_SEEDS = ["b0:", "b1:", "b2:"]  # k = 3 hash functions


def _sql_pos(seed: str, expr: str) -> str:
    return (
        f"(('0x' || substring(md5(concat('{seed}', CAST({expr} AS VARCHAR))), "
        f"1, 15))::BIGINT % {_BLOOM_M})"
    )


def _pos(seed: str, col: F.Column) -> F.Column:
    return F.pmod(
        portable_hash60(F.concat(F.lit(seed), col.cast("string"))),
        F.lit(_BLOOM_M),
    )


@register(
    "bloom_filter_prejoin",
    f"""
    WITH bld AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
      SELECT DISTINCT pos FROM (
        SELECT {_sql_pos('b0:', 'c_custkey')} AS pos FROM bld
        UNION ALL
        SELECT {_sql_pos('b1:', 'c_custkey')} AS pos FROM bld
        UNION ALL
        SELECT {_sql_pos('b2:', 'c_custkey')} AS pos FROM bld
      )
    ),
    flags AS (
      SELECT ({_sql_pos('b0:', 'o_custkey')} IN (SELECT pos FROM bits))
         AND ({_sql_pos('b1:', 'o_custkey')} IN (SELECT pos FROM bits))
         AND ({_sql_pos('b2:', 'o_custkey')} IN (SELECT pos FROM bits))
               AS pass,
             o_custkey IN (SELECT c_custkey FROM bld) AS is_true
      FROM orders
    )
    SELECT COUNT(*) AS n_probe,
           CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass_bloom,
           CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_match,
           CAST(SUM(CASE WHEN pass AND NOT is_true THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN is_true AND NOT pass THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_neg,
           {sql_round_div(
               'SUM(CASE WHEN pass AND NOT is_true THEN 1 ELSE 0 END)',
               'COUNT(*)', 6)} AS fp_rate
    FROM flags
    """,
    bench=True,
    doc="bloom-filter pre-join pruning with portable bits: a "
    f"{_BLOOM_M}-bit / 3-hash bloom filter of the selective build side "
    "(BUILDING-segment customers) is realized as a distinct bit-position "
    "table from 60-bit md5 hashes — identical bits on both engines — "
    "and each probe row checks its 3 positions through three map-only "
    "broadcast membership joins (no row amplification, no per-key "
    "aggregate) — a row passes iff all 3 hit. The row hash pins n_false_neg = 0 (a bloom filter NEVER "
    "drops a true match) and the exact false-positive count vs the "
    "true semi-join. At 100 TB the bit table (<= m rows) broadcasts to "
    "prune the probe BEFORE the shuffle join — the manual form of "
    "Spark's runtime bloom-filter join pruning — so shuffle volume "
    "drops by the probe selectivity at the cost of fp_rate extra rows.",
)
def bloom_filter_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    bld = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    bits = (
        bld.select(
            F.explode(
                F.array(*[_pos(s, F.col("c_custkey")) for s in _BLOOM_SEEDS])
            ).alias("pos")
        )
        .distinct()
        .cache()  # broadcast-built 3x (one membership join per seed):
        # without it each build re-runs the dim scan + explode + distinct
    )
    probe = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        *[
            _pos(seed, F.col("o_custkey")).alias(f"p{i}")
            for i, seed in enumerate(_BLOOM_SEEDS)
        ],
    )
    # three map-only broadcast membership joins — no row amplification,
    # no per-key aggregate; a probe row passes iff all 3 positions hit
    hit_cols = []
    for i in range(len(_BLOOM_SEEDS)):
        b = bits.select(F.col("pos").alias(f"p{i}"), F.lit(1).alias(f"h{i}"))
        probe = probe.join(F.broadcast(b), f"p{i}", "left")
        hit_cols.append(F.col(f"h{i}").isNotNull())
    passed = hit_cols[0] & hit_cols[1] & hit_cols[2]
    flags = probe.join(
        F.broadcast(bld.withColumn("truth", F.lit(1))),
        probe["o_custkey"] == bld["c_custkey"],
        "left",
    ).select(
        passed.alias("pass"),
        F.col("truth").isNotNull().alias("is_true"),
    )
    p = F.col("pass")
    tr = F.col("is_true")
    as_long = lambda c: F.sum(c.cast("int")).cast("long")  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).alias("n_probe"),
        as_long(p).alias("n_pass_bloom"),
        as_long(tr).alias("n_true_match"),
        as_long(p & ~tr).alias("n_false_pos"),
        as_long(tr & ~p).alias("n_false_neg"),
        round_div(
            F.sum((p & ~tr).cast("int")), F.count(F.lit(1)), 6
        ).alias("fp_rate"),
    )


# --------------------------------------------------------------------------
# small-file compaction
# --------------------------------------------------------------------------

@register(
    "compaction_roundtrip",
    """
    SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           user_id, event_type, value
    FROM events
    """,
    doc="small-file compaction round-trip: events deliberately "
    "fragmented into 64 parquet files, compacted to 4 "
    "(read -> coalesce -> rewrite, the nightly maintenance job every "
    "lake table needs), and re-read; the oracle reads the ORIGINAL "
    "table, so the hash match proves compaction is content-neutral "
    "while the query itself RAISES unless the file count actually "
    "shrank 64 -> <= 4. coalesce (not repartition) keeps the rewrite "
    "shuffle-free — at 100 TB compaction is bandwidth-bound, never "
    "shuffle-bound; per-partition target sizing comes from "
    "maxRecordsPerFile in a real deployment. Small files are the "
    "silent scan killer at scale: driver-side listing, per-file open "
    "cost, and row-group fragmentation all scale with file count.",
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    small_path = scratch("events_small")
    compact_path = scratch("events_compacted")
    ev = t(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(small_path)
    spark.read.parquet(small_path).coalesce(4).write.mode(
        "overwrite"
    ).parquet(compact_path)

    def n_parquet_files(path: str) -> int:
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))

    n_small, n_compact = n_parquet_files(small_path), n_parquet_files(
        compact_path
    )
    if not (n_compact <= 4 < n_small):
        raise RuntimeError(
            f"compaction did not shrink the file count: {n_small} -> "
            f"{n_compact}"
        )
    out = spark.read.parquet(compact_path)
    return out.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


@register(
    "salted_replicate_join",
    f"""
    SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
           COUNT(*) AS n_orders,
           {sql_exact_sum('o_totalprice', 2)} AS total_price
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
    doc="replicate-the-small-side salted join (operators/skew.py::"
    "salted_broadcast_left) computes the plain left join's exact "
    "aggregate: the fact side gets a uniform salt, the dim side is "
    "replicated once per salt bucket, and the join key becomes "
    "(key, salt) — so a hot key's rows land on salt_buckets tasks "
    "instead of one. This is the fix when the dim is too big to "
    "broadcast whole but a fact key is hot and AQE's skew split "
    "cannot apply (e.g. the skew is in a non-shuffle child). "
    "Hash-checked against the unsalted relational oracle; exact "
    "decimal sums make the re-association across salt buckets "
    "invisible.",
)
def salted_replicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.operators.skew import (  # noqa: PLC0415
        salted_broadcast_left,
    )

    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_broadcast_left(orders, cust, "o_custkey", salt_buckets=8)
    return joined.groupBy(
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(20,2)"))
        .cast("double")
        .alias("total_price"),
    )


# --------------------------------------------------------------------
# dynamic_partition_pruning_join
# --------------------------------------------------------------------

_DPP_URGENT = ("1-URGENT", "2-HIGH")


def _dpp_oracle() -> str:
    in_list = ", ".join(f"'{p}'" for p in _DPP_URGENT)
    return f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_round_sum('o_totalprice', 2, 2)} AS revenue
    FROM orders
    WHERE o_orderpriority IN ({in_list})
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


@register(
    "dynamic_partition_pruning_join",
    _dpp_oracle(),
    doc="runtime partition pruning — THE fact-scan saver for "
    "star-schema joins at 100 TB: orders hive-partitioned on the join "
    "key (order priority, 5 directories), joined to a dimension "
    "filtered AFTER planning (urgent priorities only), so the "
    "surviving keys are unknowable at compile time and static "
    "partition pruning cannot fire. Spark's dynamic partition "
    "pruning inserts a dynamicpruning subquery into the fact scan — "
    "reusing the join's broadcast — so only 2 of 5 partition "
    "directories are LISTED, let alone read; at 100 TB that is the "
    "difference between scanning 40 TB and 100 TB with zero query "
    "rewrite. The oracle proves the values; the pytest pin asserts "
    "the dynamicpruning expression is actually present in the "
    "executed plan (the feature, not just the numbers). Write is the "
    "same scratch-sink discipline as the formats family.",
)
def dynamic_partition_pruning_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = scratch("orders_by_priority")
    t(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(path)
    fact = spark.read.parquet(path)
    # the dimension: derived from data (not a literal) so Catalyst
    # cannot constant-fold the filter into a static partition list —
    # the pruning must happen at RUNTIME, which is the witnessed feature
    dim = (
        fact.select("o_orderpriority")
        .distinct()
        .withColumn(
            "urgent", F.col("o_orderpriority").isin(*_DPP_URGENT)
        )
        .filter("urgent")
        .drop("urgent")
    )
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            round_sum(F.col("o_totalprice"), 2, 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )
