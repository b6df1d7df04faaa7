"""Incremental-maintenance operator shapes.

The reference rebuilds its dbt models in full every run (SURVEY §2.7-d);
at 100 TB the production shape is INCREMENTAL maintenance: keep partial
aggregates, fold in only the delta, and prove the merged state equals a
full recompute. These queries register that proof, plus the calendar
gap-fill/forward-fill resampling every market-data pipeline needs.

- ``delta_join_view_maintenance`` — incremental view maintenance of a
  join-aggregate by the four-quadrant delta algebra (the DBSP /
  materialized-view identity): with orders = A0 ∪ ΔA and customer =
  B0 ∪ ΔB (disjoint splits), A ⋈ B = (A0⋈B0) ∪ (ΔA⋈B0) ∪ (A0⋈ΔB) ∪
  (ΔA⋈ΔB), so a grouped aggregate over the join is maintained by
  combining the materialized partial state with three DELTA-sized
  joins instead of re-joining the full base. The oracle is the full
  recompute — value-hash equality IS the IVM-correctness proof.
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
- ``deletion_vector_scan`` — the lakehouse merge-on-read READ path
  (Iceberg position deletes / Delta deletion vectors): a base file
  set plus a separate position-delete table; reading = base ANTI JOIN
  deletes on the row address. The oracle computes the equivalent
  LOGICAL delete directly (CASE-filtered aggregates), so hash
  equality proves the DV read path reconstructs exactly the logical
  table — the MoR correctness contract. Complements keyed_upsert /
  pointer_swap_time_travel (copy-on-write) with the merge-on-read
  half of the lakehouse story.
- ``user_erasure_cascade`` — the GDPR/CCPA right-to-be-forgotten
  audit: erasing a user must cascade from the fact table through
  every derived materialization, and the compliance evidence is a
  per-table before/after/removed accounting with a zero-orphan
  check. Composes the lakehouse delete path with the privacy family
  (k_anonymity_check, l_diversity_check, text_pii_*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    round_sum,
    scratch,
    sql_round_div,
    sql_round_sum,
    t,
)

# deterministic base/delta split: everything before this day is the
# "already materialized" state, the rest is the incoming delta
_CUTOFF = "2025-02-01"


@register(
    "incremental_agg_maintenance",
    """
    SELECT event_type,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
    doc="incremental aggregate maintenance (the dbt-incremental shape "
    "the reference's full-rebuild models lack): the pre-cutoff half is "
    "aggregated into partial state (n, exact decimal sum) as a stand-in "
    "for yesterday's materialization, the post-cutoff delta is "
    "aggregated separately, and the two partial-state sets are MERGED "
    "(union + re-aggregate on the group key). The oracle is a FULL "
    "recompute over all events — the hash match is the algebraic-"
    "maintenance proof (count/sum are mergeable; the decimal sums make "
    "the merge order-insensitive). At 100 TB only the delta's "
    "partitions are scanned and the merge shuffle carries one row per "
    "TOUCHED group, not per event.",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.col("value").cast("decimal(20,6)").alias("v"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("value_sum_dec"),
        )

    base = partials(ev.filter(F.col("day") < F.lit(_CUTOFF).cast("date")))
    delta = partials(ev.filter(F.col("day") >= F.lit(_CUTOFF).cast("date")))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_sum_dec").cast("double").alias("value_sum"),
        )
    )
    return merged.select("event_type", "day", "n_events", "value_sum")


_GAPFILL_USERS = 10  # bounded user slice keeps the calendar spine small


@register(
    "calendar_gapfill_ffill",
    f"""
    WITH daily AS (
      SELECT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS day_value
      FROM events WHERE user_id < {_GAPFILL_USERS}
      GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
      GROUP BY user_id
    ), spine AS (
      SELECT user_id, CAST(g.d AS DATE) AS day
      FROM span, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS g(d)
    )
    SELECT s.user_id, s.day,
           (d.day IS NOT NULL) AS observed,
           last_value(d.day_value IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.day
                   ROWS UNBOUNDED PRECEDING) AS value_ffill
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    ORDER BY s.user_id, s.day
    """,
    doc="calendar gap-fill + forward-fill (market-data resampling: "
    "every day between a user's first and last activity gets a row; "
    "missing days carry the last observed value forward). The spine is "
    "sequence()-generated per key — rows created ∝ span, never a "
    "cross-join against a global calendar — and the fill is one "
    "last(ignoreNulls) window pass sharing the join's partitioning. "
    "Day-level sums go through exact decimals so fill values "
    "hash-match bit-for-bit.",
)
def calendar_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < _GAPFILL_USERS)
    daily = ev.groupBy(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(
        F.sum(F.col("value").cast("decimal(20,6)"))
        .cast("double")
        .alias("day_value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    joined = spine.join(
        daily.withColumnRenamed("day", "obs_day"),
        (spine.user_id == daily.user_id) & (spine.day == F.col("obs_day")),
        "left",
    ).select(
        spine.user_id, spine.day, F.col("obs_day"), F.col("day_value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.col("obs_day").isNotNull().alias("observed"),
        F.last("day_value", ignorenulls=True).over(w).alias("value_ffill"),
    ).orderBy("user_id", "day")


@register(
    "pointer_swap_time_travel",
    """
    SELECT 'v1' AS version_tag, o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
             AS price_sum
    FROM orders WHERE o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 'v2', o_orderstatus, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY version_tag, o_orderstatus
    """,
    doc="time travel over the pointer-swap commit protocol "
    "(operators/merge.py): two successive commit_pointer_swap() "
    "snapshots of the orders table (half, then all); read_current() "
    "must resolve the second, read_version() on the OLDEST prefix must "
    "still see the first — old snapshots stay readable until "
    "vacuum_versions, exactly the Delta/Iceberg time-travel contract "
    "in dependency-free form. The returned frame aggregates BOTH reads "
    "with a version tag; the oracle re-derives both states "
    "relationally, so the hash match proves snapshot isolation (the "
    "second commit did not disturb the first snapshot's bytes).",
)
def pointer_swap_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.operators.merge import (  # noqa: PLC0415
        commit_pointer_swap,
        list_versions,
        read_current,
        read_version,
    )

    root = scratch("orders_tt")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    commit_pointer_swap(orders.filter(F.col("o_orderkey") % 2 == 0), root)
    commit_pointer_swap(orders, root)

    def summarize(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
            .cast("double")
            .alias("price_sum"),
        ).select(
            F.lit(tag).alias("version_tag"), "o_orderstatus", "n", "price_sum"
        )

    v_first = list_versions(root)[0]
    old = summarize(read_version(spark, root, v_first), "v1")
    cur = summarize(read_current(spark, root), "v2")
    return old.unionByName(cur).orderBy("version_tag", "o_orderstatus")


@register(
    "join_strategy_independence",
    """
    WITH j AS (
      SELECT o.o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,6))) AS DOUBLE)
               AS qty_sum
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= DATE '1995-01-01'
        AND o.o_orderdate < DATE '1995-04-01'
      GROUP BY o.o_orderpriority
    )
    SELECT s.strategy, j.o_orderpriority, j.n, j.qty_sum
    FROM j, (VALUES ('broadcast'), ('merge'), ('shuffle_hash'),
                    ('shuffle_replicate_nl')) AS s(strategy)
    ORDER BY strategy, o_orderpriority
    """,
    doc="physical-strategy independence proof: the SAME join+aggregate "
    "executed under all four Spark join hints — BROADCAST, MERGE "
    "(sort-merge), SHUFFLE_HASH, SHUFFLE_REPLICATE_NL — unioned with a "
    "strategy tag; every variant must produce identical bytes (the "
    "oracle replicates one relational result x4). This is the "
    "guarantee that lets an operator author pick the physical plan "
    "purely on scale grounds (broadcast for dim-sized sides, "
    "sort-merge for fact-fact, shuffle-hash for mid-size skewless) "
    "with zero semantic risk. tests/test_quality_incremental.py "
    "asserts each hint actually selected its join node.",
)
def join_strategy_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("date"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    out = None
    for hint in ("broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl"):
        j = (
            li.join(orders.hint(hint), li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(20,6)"))
                .cast("double")
                .alias("qty_sum"),
            )
            .select(
                F.lit(hint).alias("strategy"), "o_orderpriority", "n", "qty_sum"
            )
        )
        out = j if out is None else out.unionByName(j)
    return out.orderBy("strategy", "o_orderpriority")


@register(
    "cdc_version_diff",
    """
    WITH old_v AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new_v AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT o_orderkey, change_type FROM (
      SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                  WHEN n.o_orderkey IS NULL THEN 'deleted'
                  WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                    THEN 'updated'
             END AS change_type
      FROM old_v o FULL OUTER JOIN new_v n ON o.o_orderkey = n.o_orderkey
    ) WHERE change_type IS NOT NULL
    """,
    bench=True,
    doc="change-data-feed derivation between two table versions "
    "(operators/cdc.py::version_diff over a deterministic synthetic "
    "edit of orders: %97 keys deleted, %13 repriced, %101 re-keyed as "
    "inserts). One keyed full-outer join emitting only changed keys "
    "with inserted/deleted/updated labels — the read side of a "
    "lakehouse change feed, and the input a downstream incremental "
    "materialization consumes. Null-safe value comparison; unchanged "
    "rows never leave the join.",
)
def cdc_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.operators.cdc import version_diff

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new_v = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.5
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 1000000
            )
        )
    )
    return version_diff(orders, new_v, ["o_orderkey"])


@register(
    "cdc_apply_changes",
    """
    WITH changes AS (
      SELECT o_custkey AS c_custkey,
             'cdc-' || CAST(o_custkey AS VARCHAR) AS c_name,
             o_totalprice AS c_acctbal,
             CASE WHEN o_orderkey % 10 < 2 THEN 'delete'
                  ELSE 'upsert' END AS op,
             o_orderkey AS seq
      FROM orders
    ),
    latest AS (
      SELECT c_custkey, c_name, c_acctbal, op FROM (
        SELECT c.*, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                       ORDER BY seq DESC) AS rn
        FROM changes c
      ) WHERE rn = 1
    )
    SELECT b.c_custkey, b.c_name, b.c_acctbal
    FROM customer b LEFT JOIN latest l ON b.c_custkey = l.c_custkey
    WHERE l.c_custkey IS NULL
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op = 'upsert'
    """,
    doc="CDC feed replay (operators/cdc.py::apply_changes): a "
    "deterministic upsert/delete feed derived from orders (latest "
    "order per customer decides; %10<2 order keys are deletes) applied "
    "to the customer snapshot. Per key only the max-seq change takes "
    "effect — delete-then-upsert survives, upsert-then-delete is "
    "removed — so the replay is idempotent and order-insensitive "
    "within a batch, which is what makes it safe to run from "
    "foreachBatch at scale. One window over the feed + one anti-join "
    "against base; base rows without changes stream through untouched.",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.operators.cdc import apply_changes

    base = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    orders = t(spark, sf_dir, "orders")
    changes = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("cdc-"), F.col("o_custkey").cast("string")).alias(
            "c_name"
        ),
        F.col("o_totalprice").alias("c_acctbal"),
        F.when(F.col("o_orderkey") % 10 < 2, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("o_orderkey").alias("seq"),
    )
    return apply_changes(base, changes, ["c_custkey"])


@register(
    "table_fingerprint_orders",
    """
    SELECT COUNT(*) AS n_rows,
           bit_xor(h) AS xor_fp,
           -- CAST: DuckDB SUM(BIGINT) is HUGEINT -> float64 via the
           -- driver's pandas path; Spark emits int64. The sum itself is
           -- bounded: n_rows * (1e9+7) stays far below 2^63 (and below
           -- 2^53 through sf1 — pinned by tests/test_fingerprint_bounds.py).
           CAST(SUM(h % 1000000007) AS BIGINT) AS sum_fp
    FROM (
      SELECT ('0x' || substring(md5(
               CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
               CAST(o_totalprice AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM orders
    )
    """,
    doc="order-insensitive whole-table fingerprint: per-row portable "
    "60-bit md5 over a canonical column serialization, combined with "
    "XOR and a modular sum (two independent commutative folds — "
    "collisions would have to fool both). The version-equality check "
    "that pairs with operators/cdc.py: two snapshots are equal iff "
    "their fingerprints match, ONE scan + a 3-cell aggregate each, no "
    "row comparison, trivially mergeable across partitions/files at "
    "100 TB. Cross-engine note: DOUBLE->VARCHAR rendering is pinned by "
    "both engines' shortest-roundtrip formatting for these fixture "
    "values (hash-checked here); production fingerprints should "
    "serialize exact types (long/decimal/string) only.",
)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        portable_hash60,
    )

    orders = t(spark, sf_dir, "orders")
    h = portable_hash60(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("string"),
        )
    )
    return orders.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(h)").alias("xor_fp"),
        F.sum(F.col("h") % F.lit(1000000007)).alias("sum_fp"),
    )


@register(
    "scd2_point_in_time_join",
    """
    WITH states AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE event_type != 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, event_type,
             CAST(SUM(chg) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS version,
             ts
      FROM states
    ),
    dim AS (
      SELECT user_id, event_type AS state, version,
             epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS valid_from_us,
             COALESCE(
               lead(epoch_us(CAST(MIN(ts) AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY version),
               9223372036854775807) AS valid_to_us
      FROM runs GROUP BY user_id, event_type, version
    ),
    probes AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id, p.p_us,
           d.state, d.version, d.valid_from_us
    FROM probes p
    LEFT JOIN dim d
      ON d.user_id = p.user_id
     AND p.p_us >= d.valid_from_us AND p.p_us < d.valid_to_us
    """,
    doc="SCD2 point-in-time lookup — the feature-store join that "
    "prevents training-serving leakage: each purchase retrieves the "
    "state VERSION that was valid AT its event time (half-open "
    "[valid_from, valid_to) intervals from the gaps-and-islands run "
    "construction; purchases before any state row get NULLs, never a "
    "future version). The oracle is the interval-predicate join; the "
    "Spark side uses the union + one-window merge (the as-of "
    "pattern): versions and probes interleave on (user, time) and "
    "last(ignoreNulls) carries the active version onto each probe — "
    "ONE shuffle, no range-predicate nested loop, exactly "
    "operators/asof.py's scale shape. SCD2 validity is the temporal "
    "twin of pointer-swap snapshot isolation: versions by business "
    "time instead of commit time.",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    states = ev.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = states.withColumn("chg", chg).withColumn(
        "version",
        F.sum("chg").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    dim = runs.groupBy(
        "user_id", F.col("event_type").alias("state"), "version"
    ).agg(F.unix_micros(F.min("ts")).alias("valid_from_us"))
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("p_us")
    )
    # as-of merge: versions and probes interleave on (user, time); the
    # active version carries forward onto each probe — one shuffle
    v_side = dim.select(
        "user_id",
        F.col("valid_from_us").alias("t_us"),
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("event_id"),
        "state",
        "version",
        "valid_from_us",
    )
    p_side = probes.select(
        "user_id",
        F.col("p_us").alias("t_us"),
        F.lit(1).alias("is_probe"),
        "event_id",
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("long").alias("valid_from_us"),
    )
    # at equal timestamps the version row must precede the probe
    # (valid_from is inclusive), hence is_probe in the sort key.
    # version breaks ties BETWEEN version rows sharing a valid_from_us
    # (a ts-tie state change yields an empty [t, t) interval for the
    # earlier version): the later version must sort last so
    # last(ignoreNulls) carries it — the oracle's interval join gives
    # the empty interval no probes. event_id is NULL on version rows,
    # so without version the tie order would be nondeterministic.
    mw = Window.partitionBy("user_id").orderBy(
        "t_us", "is_probe", "version", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    merged = v_side.unionByName(p_side).select(
        "user_id",
        "t_us",
        "is_probe",
        "event_id",
        F.last("state", ignorenulls=True).over(mw).alias("state"),
        F.last("version", ignorenulls=True).over(mw).alias("version"),
        F.last("valid_from_us", ignorenulls=True)
        .over(mw)
        .alias("valid_from_us"),
    )
    return merged.filter(F.col("is_probe") == 1).select(
        "user_id",
        "event_id",
        F.col("t_us").alias("p_us"),
        "state",
        "version",
        "valid_from_us",
    )


@register(
    "qc_profile_drift",
    """
    WITH new_v AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
    ),
    p_old AS (
      SELECT COUNT(*) AS n,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE)
               AS total_price,
             MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      FROM orders
    ),
    p_new AS (
      SELECT COUNT(*) AS n,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE)
               AS total_price,
             MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      FROM new_v
    )
    SELECT o.n AS n_old, nw.n AS n_new,
           nw.n - o.n AS row_drift,
           (ABS(nw.n - o.n) * 100 > o.n) AS row_drift_alert,
           (o.n_status != nw.n_status) AS status_domain_changed,
           CAST(ROUND(CAST(nw.total_price - o.total_price
                AS DECIMAL(28,10)), 2) AS DOUBLE) AS total_price_delta,
           (o.min_price != nw.min_price OR o.max_price != nw.max_price)
             AS range_changed
    FROM p_old o CROSS JOIN p_new nw
    """,
    doc="table-profile drift monitor between two versions (the "
    "pre-publish QC gate a nightly pipeline runs before swapping the "
    "pointer): row-count drift with a 1% alert threshold, categorical "
    "domain-cardinality change, exact-decimal total delta, and "
    "min/max range movement — computed as ONE aggregate row per "
    "version (single scan each) and one 1-row cross join. Versions "
    "are the same deterministic synthetic edit cdc_version_diff "
    "uses, so the drift numbers are cross-checkable against the "
    "change feed (row_drift = inserts - deletes). At 100 TB profile "
    "rows are constant-size whatever the table; persist them per "
    "version and drift checks never rescan history.",
)
def qc_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new_v = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.5
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 1000000
            )
        )
    )

    def profile(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_orderstatus").alias("n_status"),
            F.sum(F.col("o_totalprice").cast("decimal(20,2)"))
            .cast("double")
            .alias("total_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )

    o = profile(orders).alias("o")
    nw = profile(new_v).alias("nw")
    return o.crossJoin(F.broadcast(nw)).select(
        F.col("o.n").alias("n_old"),
        F.col("nw.n").alias("n_new"),
        (F.col("nw.n") - F.col("o.n")).alias("row_drift"),
        (F.abs(F.col("nw.n") - F.col("o.n")) * 100 > F.col("o.n")).alias(
            "row_drift_alert"
        ),
        (F.col("o.n_status") != F.col("nw.n_status")).alias(
            "status_domain_changed"
        ),
        F.round(
            (F.col("nw.total_price") - F.col("o.total_price")).cast(
                "decimal(28,10)"
            ),
            2,
        )
        .cast("double")
        .alias("total_price_delta"),
        (
            (F.col("o.min_price") != F.col("nw.min_price"))
            | (F.col("o.max_price") != F.col("nw.max_price"))
        ).alias("range_changed"),
    )


@register(
    "calendar_interpolate_linear",
    f"""
    WITH daily AS (
      SELECT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS day_value
      FROM events WHERE user_id < {_GAPFILL_USERS}
      GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
      GROUP BY user_id
    ), spine AS (
      SELECT user_id, CAST(g.d AS DATE) AS day
      FROM span, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS g(d)
    ), neighbors AS (
      SELECT s.user_id, s.day,
             (d.day IS NOT NULL) AS observed,
             last_value(d.day_value IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(d.day IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS UNBOUNDED PRECEDING) AS pd,
             first_value(d.day_value IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(d.day IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM spine s LEFT JOIN daily d
        ON s.user_id = d.user_id AND s.day = d.day
    )
    SELECT user_id, day, observed,
           CASE WHEN observed THEN pv
                ELSE pv + (nv - pv)
                     * (day - pd) / (nd - pd)
           END AS value_interp
    FROM neighbors
    """,
    doc="calendar gap-fill with LINEAR interpolation (the resampling "
    "mode forward-fill can't express: missing days move smoothly "
    "between the surrounding observations instead of holding flat): "
    "previous observation via last(ignoreNulls) over the preceding "
    "frame, next via first(ignoreNulls) over the following frame, "
    "then value = prev + (next-prev) * elapsed/gap. Interior gaps "
    "always have both neighbors (the spine spans first..last "
    "observation), so no NULL edge cases; both engines compute the "
    "identical double expression (day differences are exact small "
    "ints, the division is one IEEE op). Same spine-per-key scale "
    "shape as calendar_gapfill_ffill — rows ∝ span, two window "
    "passes sharing one partitioning.",
)
def calendar_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < _GAPFILL_USERS)
    daily = ev.groupBy(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(
        F.sum(F.col("value").cast("decimal(20,6)"))
        .cast("double")
        .alias("day_value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias(
            "day"
        ),
    )
    joined = spine.join(
        daily.withColumnRenamed("day", "obs_day"),
        (spine.user_id == daily.user_id) & (spine.day == F.col("obs_day")),
        "left",
    ).select(spine.user_id, spine.day, F.col("obs_day"), F.col("day_value"))
    back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nb = joined.select(
        "user_id",
        "day",
        F.col("obs_day").isNotNull().alias("observed"),
        F.last("day_value", ignorenulls=True).over(back).alias("pv"),
        F.last("obs_day", ignorenulls=True).over(back).alias("pd"),
        F.first("day_value", ignorenulls=True).over(fwd).alias("nv"),
        F.first("obs_day", ignorenulls=True).over(fwd).alias("nd"),
    )
    interp = F.when(F.col("observed"), F.col("pv")).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * F.datediff(F.col("day"), F.col("pd"))
        / F.datediff(F.col("nd"), F.col("pd"))
    )
    return nb.select("user_id", "day", "observed", interp.alias("value_interp"))


# --------------------------------------------------------------------
# delta_join_view_maintenance
# --------------------------------------------------------------------

_DV_ORD_MOD = 10  # o_orderkey % 10 == 0 plays the order-side delta ΔA
_DV_CUST_MOD = 7  # c_custkey % 7 == 0 plays the customer-side delta ΔB


def _dv_oracle() -> str:
    return f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_round_sum('o.o_totalprice', 2, 2)} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n_name
    """


@register(
    "delta_join_view_maintenance",
    _dv_oracle(),
    doc="incremental view maintenance of a join-aggregate by the "
    "four-quadrant delta algebra (the DBSP / materialized-view "
    "identity): with orders = A0 ∪ ΔA and customer = B0 ∪ ΔB "
    "(disjoint key-residue splits standing in for 'rows that arrived "
    "since the last refresh'), A ⋈ B decomposes EXACTLY into "
    "(A0⋈B0) ∪ (ΔA⋈B0) ∪ (A0⋈ΔB) ∪ (ΔA⋈ΔB), so the per-nation "
    "revenue view is maintained by UNIONing four grouped PARTIAL "
    "aggregates — the materialized bootstrap state plus three delta "
    "joins — and combining them in one tiny final aggregate (25 "
    "nation rows). Partial sums ride DECIMAL(20,2) so the four-way "
    "reassociation is exact and the value hash cannot drift. The "
    "oracle is the monolithic full recompute: hash equality IS the "
    "IVM-correctness proof. 100 TB shape: the big-big shuffle join "
    "happens ONCE at bootstrap (A0⋈B0, the materialized state); "
    "steady-state refresh cost is |Δ|-sized — ΔA broadcasts against "
    "B0, ΔB broadcasts against A0 (a map-only base scan prunable by "
    "partition/bloom on the delta's key set), ΔA⋈ΔB is tiny-tiny — "
    "versus re-joining the full base every refresh. The same partial-"
    "aggregate state generalizes to any abelian aggregate (sum/count/"
    "min-lattice), which is why the final combine is exact.",
)
def delta_join_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    a0 = orders.filter(F.col("o_orderkey") % _DV_ORD_MOD != 0)
    da = orders.filter(F.col("o_orderkey") % _DV_ORD_MOD == 0)
    b0 = cust.filter(F.col("c_custkey") % _DV_CUST_MOD != 0)
    db = cust.filter(F.col("c_custkey") % _DV_CUST_MOD == 0)

    def partial(o: DataFrame, c: DataFrame, bcast: str) -> DataFrame:
        """Grouped partial state (n, exact decimal sum) per nation for
        one quadrant; ``bcast`` marks the genuinely small side —
        quadrants carrying a delta broadcast it, the bootstrap
        quadrant shuffles (its one-time cost is the point)."""
        if bcast == "orders":
            j = F.broadcast(o).join(c, o["o_custkey"] == c["c_custkey"])
        elif bcast == "customer":
            j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        else:
            j = o.join(c, o["o_custkey"] == c["c_custkey"])
        return (
            j.join(
                F.broadcast(nation),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias(
                    "s"
                ),
            )
        )

    state = (
        partial(a0, b0, "none")  # bootstrap: the one big-big join
        .unionByName(partial(da, b0, "orders"))  # ΔA ⋈ B0
        .unionByName(partial(a0, db, "customer"))  # A0 ⋈ ΔB
        .unionByName(partial(da, db, "customer"))  # ΔA ⋈ ΔB
    )
    return (
        state.groupBy("n_name")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.round(F.sum("s"), 2).cast("double").alias("revenue"),
        )
        .orderBy("n_name")
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
    (plan-quality fold; was two histogram aggregates + a
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
# deletion_vector_scan
# --------------------------------------------------------------------

_DV_FILES = 8  # l_orderkey % 8 plays the data-file id
_DV_DEL_MOD = 19  # (7*orderkey + linenumber) % 19 == 0 marks deleted


def _dv_scan_oracle() -> str:
    pred = f"(7 * l_orderkey + l_linenumber) % {_DV_DEL_MOD} = 0"
    return f"""
    SELECT l_orderkey % {_DV_FILES} AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deleted,
           CAST(SUM(CASE WHEN {pred} THEN 0 ELSE 1 END) AS BIGINT)
             AS n_live,
           {sql_round_sum(
        f'CASE WHEN {pred} THEN 0 ELSE l_quantity END', 2, 2
    )} AS live_qty_sum
    FROM lineitem
    GROUP BY 1
    ORDER BY file_id
    """


@register(
    "deletion_vector_scan",
    _dv_scan_oracle(),
    doc="lakehouse merge-on-read READ path (Iceberg position deletes / "
    "Delta deletion vectors): the base rows and a SEPARATE position-"
    "delete table (the DV — row addresses only, no data), where "
    "reading the logical table = base ANTI JOIN deletes on the row "
    "address, per file. The oracle computes the equivalent LOGICAL "
    "delete directly as CASE-filtered aggregates, so the value hash "
    "proves the DV read path reconstructs exactly the logical table — "
    "the MoR correctness contract, the other half of the lakehouse "
    "story from keyed_upsert / pointer_swap_time_travel's copy-on-"
    "write. Emits the per-file audit (total / deleted / live counts, "
    "live quantity through the exact-decimal route) a compaction "
    "scheduler consumes to decide when DVs are worth rewriting into "
    "data files. 100 TB shape: the DV is addresses-only (bytes per "
    "deleted row, broadcastable by construction — deletes are a tiny "
    "fraction of the base or you'd rewrite the file), so the read is "
    "a map-side broadcast anti-join + one file-keyed aggregate; the "
    "base is never rewritten, which is the entire point of MoR.",
)
def deletion_vector_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_orderkey") % _DV_FILES).alias("file_id"),
    )
    addr_mod = (
        F.lit(7) * F.col("l_orderkey") + F.col("l_linenumber")
    ) % _DV_DEL_MOD
    # the position-delete table: addresses only, as a real DV is
    dv = base.filter(addr_mod == 0).select("l_orderkey", "l_linenumber")
    live = base.join(
        F.broadcast(dv), ["l_orderkey", "l_linenumber"], "left_anti"
    )
    totals = base.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    deleted = (
        dv.select((F.col("l_orderkey") % _DV_FILES).alias("file_id"))
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    )
    live_agg = live.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        round_sum(F.col("l_quantity"), 2, 2).alias("live_qty_sum"),
    )
    return (
        totals.join(deleted, "file_id", "left")
        .join(live_agg, "file_id", "left")
        .select(
            "file_id",
            "n_total",
            F.coalesce("n_deleted", F.lit(0).cast("long")).alias(
                "n_deleted"
            ),
            F.coalesce("n_live", F.lit(0).cast("long")).alias("n_live"),
            F.coalesce("live_qty_sum", F.lit(0.0)).alias("live_qty_sum"),
        )
        .orderBy("file_id")
    )


# --------------------------------------------------------------------
# user_erasure_cascade
# --------------------------------------------------------------------

_ER_MOD = 7  # user_id % 7 == 0 requested erasure


def _erasure_oracle() -> str:
    pred = f"user_id % {_ER_MOD} = 0"
    return f"""
    WITH kept AS (SELECT * FROM events WHERE NOT ({pred})),
    t_events AS (
      SELECT 'events' AS table_name,
             (SELECT COUNT(*) FROM events) AS n_before,
             (SELECT COUNT(*) FROM kept) AS n_after
    ),
    agg_before AS (
      SELECT user_id, event_type FROM events GROUP BY 1, 2
    ),
    agg_after AS (
      SELECT user_id, event_type FROM kept GROUP BY 1, 2
    ),
    t_agg AS (
      SELECT 'user_event_type_agg' AS table_name,
             (SELECT COUNT(*) FROM agg_before) AS n_before,
             (SELECT COUNT(*) FROM agg_after) AS n_after
    ),
    t_users AS (
      SELECT 'user_profile' AS table_name,
             (SELECT COUNT(DISTINCT user_id) FROM events) AS n_before,
             (SELECT COUNT(DISTINCT user_id) FROM kept) AS n_after
    ),
    uni AS (
      SELECT * FROM t_events
      UNION ALL SELECT * FROM t_agg
      UNION ALL SELECT * FROM t_users
    )
    SELECT table_name,
           CAST(n_before AS BIGINT) AS n_before,
           CAST(n_after AS BIGINT) AS n_after,
           CAST(n_before - n_after AS BIGINT) AS n_removed,
           0 AS n_orphans_after
    FROM uni
    ORDER BY table_name
    """


@register(
    "user_erasure_cascade",
    _erasure_oracle(),
    doc="GDPR/CCPA right-to-be-forgotten cascade audit: erasing a "
    "user set (user_id % 7 = 0 plays the deletion-request list) must "
    "cascade from the fact table through every derived "
    "materialization, and the compliance artifact is the per-table "
    "before/after/removed accounting with a zero-orphan check — "
    "n_orphans_after counts erased-user rows SURVIVING in each "
    "rebuilt table and is computed (not asserted): an engine that "
    "fails to propagate the delete into a derived table ships a "
    "nonzero orphan count and flunks the value hash. Three "
    "materializations audited: the raw fact, the (user, event_type) "
    "rollup, and the distinct-user profile. Completes the privacy "
    "family (k_anonymity_check, l_diversity_check, text_pii_*) with "
    "the DELETE path those audits gate. 100 TB shape: the erasure "
    "list is a broadcast anti-join in production (here a residue "
    "predicate, same plan class); each audit row is one aggregate "
    "with map-side combine; derived-table rebuilds are the same "
    "aggregates a refresh would run anyway — the audit costs one "
    "extra count per table.",
)
def user_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_type")
    erased = F.col("user_id") % _ER_MOD == 0
    kept = ev.filter(~erased)

    def audit(name: str, before: DataFrame, after: DataFrame) -> DataFrame:
        nb = before.agg(F.count(F.lit(1)).cast("long").alias("n_before"))
        na_ = after.agg(
            F.count(F.lit(1)).cast("long").alias("n_after"),
            F.sum((F.col("user_id") % _ER_MOD == 0).cast("int"))
            .cast("long")
            .alias("n_orph"),
        )
        return nb.crossJoin(na_).select(
            F.lit(name).alias("table_name"),
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_removed"),
            F.coalesce("n_orph", F.lit(0).cast("long")).alias(
                "n_orphans_after"
            ),
        )

    agg_before = ev.select("user_id", "event_type").distinct()
    agg_after = kept.select("user_id", "event_type").distinct()
    users_before = ev.select("user_id").distinct()
    users_after = kept.select("user_id").distinct()
    out = (
        audit("events", ev, kept)
        .unionByName(audit("user_event_type_agg", agg_before, agg_after))
        .unionByName(audit("user_profile", users_before, users_after))
    )
    # the oracle types the orphan column as a plain int literal 0 —
    # cast ours down so the schema classes agree
    return out.select(
        "table_name",
        "n_before",
        "n_after",
        "n_removed",
        F.col("n_orphans_after").cast("int").alias("n_orphans_after"),
    ).orderBy("table_name")
