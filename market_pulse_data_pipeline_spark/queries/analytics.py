"""Analytical operator breadth: window frames, rollup, pivot, set ops,
semi/anti subqueries, string & date scalar suites.

The reference outsources all of this to Snowflake; a drop-in engine has
to own it. Shapes chosen so the DuckDB oracle is exactly expressible
(deterministic orders, decimal-exact window sums, tie-free ranking).

- ``equi_depth_histogram_stats`` — the optimizer-statistics artifact
  itself: per-group equi-depth (NTILE) histograms with per-bucket
  row counts and [min, max] bounds — what a CBO consumes for
  selectivity estimation and what ANALYZE TABLE materializes.
  Deterministic under a total order (value, event_id tiebreak), so
  the bucket boundaries are bit-identical across engines; bounds are
  raw untouched doubles (no arithmetic, no rounding boundary).
- ``json_schema_infer`` — semi-structured schema profiling: per JSON
  path, the observed value-class distribution (missing / int / float
  / bool / string) with presence ratios — the first thing a data
  lake runs against a new feed, and the complement of the registered
  extractors (json_path_extract / variant_path_extract assume the
  schema; this DISCOVERS it). Classification is value-pattern-based
  on the canonical string extraction (get_json_object twins DuckDB's
  json_extract_string byte-for-byte — verified on every planted
  shape), deterministic across engines; production swaps in variant
  typeof for quoted-number fidelity, same plan.
- ``seasonal_naive_backtest`` — forecast backtesting, the evaluation
  loop every metrics platform runs: the seasonal-naive baseline
  (forecast(d) = actual(d - 7)) joined against actuals per series,
  with MAE and signed bias through the exact-decimal route (sums are
  order-independent DECIMAL, ONE terminal rounding each). Day buckets
  are epoch_us div 86400000000 (integer truncation on both engines) — timezone-free integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    exact_sum,
    register,
    round_div,
    sql_round_div,
    t,
)

_LANGS = ["de", "en", "es", "fr", "zh"]


@register(
    "rolling_avg_7rows",
    """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_suppkey, d, rev,
           CAST(CAST(SUM(CAST(rev AS DECIMAL(20,2))) OVER w AS DOUBLE)
                / COUNT(*) OVER w AS DOUBLE) AS rolling_avg
    FROM daily
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    bench=True,
    doc="rolling window frame (7-row moving average over per-day revenue); "
    "pre-aggregated to daily so the frame ordering is unique → deterministic",
)
def rolling_avg_7rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out_by,
    )

    # fan_out_by(l_suppkey): parallelizes the single-split fixture scan's
    # daily aggregate AND satisfies both the groupBy and the window's
    # required distribution — one Exchange total. No-op on a many-split
    # corpus (see fan_out_by).
    li = fan_out_by(t(spark, sf_dir, "lineitem"), "l_suppkey")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    rolling = F.sum(F.col("rev").cast("decimal(20,2)")).over(w).cast(
        "double"
    ) / F.count(F.lit(1)).over(w)
    return daily.select(
        "l_suppkey", "d", "rev", rolling.cast("double").alias("rolling_avg")
    )


@register(
    "pivot_lang_counts",
    f"""
    SELECT source,
           {', '.join(f"COUNT(CASE WHEN lang = '{lg}' THEN 1 END) AS n_{lg}" for lg in _LANGS)}
    FROM documents GROUP BY source
    """,
    doc="pivot (long→wide) of per-source language counts; Spark-side uses "
    "the native groupBy().pivot() operator",
)
def pivot_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    wide = (
        docs.groupBy("source")
        .pivot("lang", _LANGS)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (source, lang) cell is empty; the CASE-count
    # oracle yields 0 — align on 0
    return wide.select(
        "source",
        *[F.coalesce(F.col(lg), F.lit(0)).alias(f"n_{lg}") for lg in _LANGS],
    )


@register(
    "rollup_qty",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(20,2))), 2) AS DOUBLE)
             AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (subtotals + grand total)",
)
def rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("sum_qty"),
    )


@register(
    "top3_per_supplier",
    """
    SELECT l_suppkey, l_extendedprice, rnk FROM (
      SELECT l_suppkey, l_extendedprice,
             DENSE_RANK() OVER (PARTITION BY l_suppkey
                                ORDER BY l_extendedprice DESC) AS rnk
      FROM lineitem) x
    WHERE rnk <= 3
    """,
    doc="top-N per group via dense_rank (value-determined, tie-stable)",
)
def top3_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(F.col("l_extendedprice").desc())
    return (
        li.select("l_suppkey", "l_extendedprice", F.dense_rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "semi_join_big_spenders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    doc="EXISTS / left-semi join (beyond the reference's join surface)",
)
def semi_join_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "set_ops_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    doc="INTERSECT set operation (nations with both customers and suppliers)",
)
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp)


@register(
    "except_user_event_pairs",
    """
    SELECT user_id, event_type FROM events
    EXCEPT
    SELECT user_id, event_type FROM events WHERE value >= 50.0
    """,
    doc="EXCEPT set operation on a composite key: (user, event_type) "
    "combinations that never carried a value ≥ 50",
)
def except_user_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").subtract(
        ev.filter(F.col("value") >= 50.0).select("user_id", "event_type")
    )


@register(
    "weekly_ohlc",
    """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_suppkey, CAST(date_trunc('week', d) AS DATE) AS week_start,
           arg_min(rev, d) AS open_rev,
           max(rev) AS high_rev,
           min(rev) AS low_rev,
           arg_max(rev, d) AS close_rev,
           CAST(ROUND(SUM(CAST(rev AS DECIMAL(20,2))), 2) AS DOUBLE) AS total_rev
    FROM daily GROUP BY 1, 2
    """,
    bench=True,
    doc="OHLC candlestick resampling (the market-data engine's signature "
    "shape): first/last-by-date via min_by/max_by over a unique daily "
    "grid, plus high/low/total — all one hash-aggregate pass",
)
def weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out_by,
    )
    from market_pulse_data_pipeline_spark.functions.scalars import week_start  # noqa: PLC0415

    # fan_out_by(l_suppkey): one exchange serves both aggregates (daily
    # and weekly group keys each contain l_suppkey); the single-split
    # fixture scan otherwise aggregates on one core. No-op when the
    # input arrives many-split.
    li = fan_out_by(t(spark, sf_dir, "lineitem"), "l_suppkey")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    return daily.groupBy(
        "l_suppkey", week_start(F.col("d")).alias("week_start")
    ).agg(
        F.min_by("rev", "d").alias("open_rev"),
        F.max("rev").alias("high_rev"),
        F.min("rev").alias("low_rev"),
        F.max_by("rev", "d").alias("close_rev"),
        F.round(F.sum(F.col("rev").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("total_rev"),
    )


@register(
    "numeric_functions_suite",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - l_quantity * 1000) AS abs_spread,
           CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_bucket,
           CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct,
           CAST(sign(l_extendedprice - 50000.0) AS DOUBLE) AS above_mid,
           sqrt(l_extendedprice) AS price_sqrt,
           CAST(l_quantity AS BIGINT) % 7 AS qty_mod7
    FROM lineitem
    """,
    doc="numeric scalar suite: abs/ceil/floor/sign/sqrt/modulo — all "
    "correctly-rounded IEEE ops, identical across engines (exp/ln "
    "excluded: libm-dependent)",
)
def numeric_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000).alias(
            "abs_spread"
        ),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_bucket"),
        F.floor(F.col("l_discount") * 100).alias("disc_pct"),
        F.signum(F.col("l_extendedprice") - 50000.0).alias("above_mid"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod7"),
    )


@register(
    "zscore_outliers",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS mean_v,
             sqrt((CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE)
                   - CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)
                     * CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*))
                  / (COUNT(*) - 1)) AS std_v
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE abs(value - mean_v) > 2.0 * std_v
    """,
    doc="z-score outlier detection (quality filtering): per-group mean/std "
    "from exact decimal sums, broadcast back, |x-μ| > 2σ — deterministic "
    "end to end",
)
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    s = F.sum(F.col("value").cast("decimal(28,8)")).cast("double")
    sq = F.sum((F.col("value") * F.col("value")).cast("decimal(28,8)")).cast(
        "double"
    )
    n = F.count(F.lit(1))
    stats = ev.groupBy("event_type").agg(
        (s / n).alias("mean_v"),
        F.sqrt((sq - s * s / n) / (n - 1)).alias("std_v"),
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("mean_v")) > 2.0 * F.col("std_v"))
        .select("event_id", "event_type", "value")
    )


@register(
    "bool_aggregates",
    """
    SELECT event_type,
           bool_and(value >= 0.0) AS all_nonneg,
           bool_or(value > 99.0) AS any_high,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="boolean aggregates (bool_and / bool_or)",
)
def bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 99.0).alias("any_high"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "variance_by_event_type",
    """
    SELECT event_type,
           CAST(ROUND(CAST(
             (CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE)
              - CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)
                * CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1)
           AS DECIMAL(28,8)), 4) AS DOUBLE) AS var_value
    FROM events GROUP BY event_type
    """,
    doc="sample variance via the explicit sum-of-squares formula over "
    "exact decimal sums — deterministic where the built-in stddev's "
    "order-dependent double accumulation is not",
)
def variance_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    s = F.sum((F.col("value")).cast("decimal(28,8)")).cast("double")
    sq = F.sum((F.col("value") * F.col("value")).cast("decimal(28,8)")).cast(
        "double"
    )
    n = F.count(F.lit(1))
    var = (sq - s * s / n) / (n - 1)
    return ev.groupBy("event_type").agg(
        F.round(var.cast("decimal(28,8)"), 4).cast("double").alias("var_value")
    )


@register(
    "regex_extract_props",
    r"""
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k_regex,
           regexp_matches(props, '"k": \d\d+') AS k_two_digits
    FROM events
    """,
    doc="regex scalar surface: group extraction + boolean match (pattern "
    "kept in the RE2∩Java-regex common subset)",
)
def regex_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k_regex"),
        F.col("props").rlike(r'"k": \d\d+').alias("k_two_digits"),
    )


@register(
    "percentiles_by_event_type",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
    doc="exact interpolated percentiles (verified bit-identical to "
    "DuckDB quantile_cont: same sort + linear interpolation)",
)
def percentiles_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


@register(
    "approx_distinct_parts",
    """
    SELECT l_suppkey,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(*) AS n_items,
           TRUE AS approx_within_band
    FROM lineitem GROUP BY l_suppkey
    """,
    doc="HyperLogLog approximate COUNT DISTINCT per supplier. The HLL "
    "estimate itself is engine-specific, so the hash-checked contract is "
    "its error bound: approx_within_band asserts Spark's rsd=0.02 sketch "
    "lands within max(1, 5%) of the exact per-group cardinality, and the "
    "oracle pins the bound TRUE for every group (any HLL excursion flips "
    "a boolean and fails the hash). Exact count rides along as the "
    "comparable value.",
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    agged = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )
    band = F.greatest(F.lit(1.0), F.col("exact_parts") * 0.05)
    return agged.select(
        "l_suppkey",
        "exact_parts",
        "n_items",
        (F.abs(F.col("approx_parts") - F.col("exact_parts")) <= band).alias(
            "approx_within_band"
        ),
    )


@register(
    "cube_counts",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets (all subtotal combinations)",
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "lag_lead_weekly",
    """
    WITH weekly AS (
      SELECT l_suppkey, CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_suppkey, wk, rev,
           lag(rev) OVER w AS prev_rev,
           lead(rev) OVER w AS next_rev,
           CAST(rev - lag(rev) OVER w AS DOUBLE) AS wow_change
    FROM weekly
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY wk)
    """,
    doc="lag/lead window navigation over a unique-keyed weekly series "
    "(week-over-week change)",
)
def lag_lead_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.scalars import week_start  # noqa: PLC0415

    li = t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_suppkey", week_start(F.col("l_shipdate")).alias("wk")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    w = Window.partitionBy("l_suppkey").orderBy("wk")
    return weekly.select(
        "l_suppkey",
        "wk",
        "rev",
        F.lag("rev").over(w).alias("prev_rev"),
        F.lead("rev").over(w).alias("next_rev"),
        (F.col("rev") - F.lag("rev").over(w)).cast("double").alias("wow_change"),
    )


@register(
    "collect_sorted_event_types",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',')
             AS event_types_csv
    FROM events GROUP BY user_id
    """,
    doc="array aggregation: per-user sorted distinct event-type list "
    "(sort makes the multiset deterministic). Emitted comma-joined: the "
    "harness canonicalizer requires scalar top-level columns.",
)
def collect_sorted_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias(
            "event_types_csv"
        )
    )


@register(
    "string_functions_suite",
    """
    SELECT doc_id,
           upper(substr(text, 1, 12)) AS head_upper,
           length(text) AS n_chars_computed,
           replace(substr(text, 1, 30), ' ', '_') AS head_snake,
           concat(lang, ':', source) AS lang_source,
           CAST(strpos(text, 'data') AS INTEGER) AS first_data_pos
    FROM documents
    """,
    doc="string scalar suite: upper/substr/length/replace/concat/position "
    "(1-based, identical across engines)",
)
def string_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head_upper"),
        F.length("text").alias("n_chars_computed"),
        F.replace(
            F.substring("text", 1, 30), F.lit(" "), F.lit("_")
        ).alias("head_snake"),
        F.concat_ws(":", "lang", "source").alias("lang_source"),
        F.instr(F.col("text"), "data").alias("first_data_pos"),
    )


@register(
    "date_functions_suite",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dy,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
    FROM orders
    """,
    doc="date scalar suite: year/month/day/quarter, date arithmetic, "
    "month truncation",
)
def date_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
    )


@register(
    "regr_slope_by_event_type",
    """
    WITH pts AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                  - 1704067200 AS DECIMAL(20,6)) AS x,
             CAST(value AS DECIMAL(20,6)) AS y
      FROM events
    ), sums AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(ROUND(CAST(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             AS DECIMAL(38,18)), 12) AS DOUBLE) AS slope
    FROM sums
    """,
    doc="per-group least-squares slope (value over event time) from the "
    "closed form n*Sxy - Sx*Sy over n*Sxx - Sx^2: ALL sums accumulate as "
    "exact decimals (order-independent), then one identical sequence of "
    "double ops on both engines — deterministic distributed linear "
    "regression without an ML library. x is seconds since 2024-01-01 to "
    "keep the decimal cross-products inside precision 38.",
)
def regr_slope_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    x = (
        (F.unix_micros(F.col("ts")) / F.lit(1000000)).cast("long")
        - F.lit(1704067200)
    ).cast("decimal(20,6)")
    y = F.col("value").cast("decimal(20,6)")
    sums = ev.select(
        "event_type", x.alias("x"), y.alias("y")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (
        nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return sums.select(
        "event_type",
        "n",
        F.round(slope.cast("decimal(38,18)"), 12).cast("double").alias("slope"),
    )


_HIST_BIN_W = 25.0  # value-domain bin width


@register(
    "value_histogram_by_event_type",
    f"""
    SELECT event_type,
           CAST(FLOOR(value / {_HIST_BIN_W}) AS BIGINT) AS bin,
           COUNT(*) AS n,
           CAST(ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(20,6)))
                AS DOUBLE) / COUNT(*) AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS bin_mean
    FROM events GROUP BY 1, 2
    """,
    doc="fixed-width histogram per group (floor-binning; floor on "
    "doubles is exact cross-engine) with per-bin means via exact decimal "
    "sums — the profiling/EDA shape. One partial+final hash aggregate; "
    "bin count bounded by domain/width, independent of row count.",
)
def value_histogram_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / _HIST_BIN_W).cast("long").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_div(
                exact_sum(F.col("value"), 6), F.count(F.lit(1)), 6
            ).alias("bin_mean"),
        )
    )


@register(
    "corr_quantity_price_by_flag",
    """
    WITH pts AS (
      SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(20,6)) AS x,
             CAST(l_extendedprice AS DECIMAL(20,6)) AS y
      FROM lineitem
    ), sums AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pts GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(ROUND(CAST(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS DECIMAL(38,18)), 12) AS DOUBLE) AS corr
    FROM sums
    """,
    doc="Pearson correlation per group from the closed form over exact "
    "decimal sums (same determinism discipline as regr_slope: order-"
    "independent accumulation, identical double ops both engines) — "
    "engine-native F.corr is NOT used because its streaming accumulation "
    "is order-dependent and would break the cross-engine hash.",
)
def corr_quantity_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(20,6)")
    y = F.col("l_extendedprice").cast("decimal(20,6)")
    sums = li.select("l_returnflag", x.alias("x"), y.alias("y")).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    corr = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return sums.select(
        "l_returnflag",
        "n",
        F.round(corr.cast("decimal(38,18)"), 12).cast("double").alias("corr"),
    )


@register(
    "rank_functions_suite",
    """
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER w AS quartile,
           CAST(percent_rank() OVER w AS DOUBLE) AS pct_rank,
           CAST(cume_dist() OVER w AS DOUBLE) AS cume,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_mktsegment, rnk, c_custkey
    """,
    doc="ranking-function suite: ntile / percent_rank / cume_dist / "
    "rank / dense_rank per market segment. percent_rank and cume_dist "
    "are exact rationals ((rank-1)/(n-1), rank/n) — identical IEEE "
    "division on both engines, no rounding needed. The (c_acctbal, "
    "c_custkey) order is total, so every rank is deterministic.",
)
def rank_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).cast("double").alias("pct_rank"),
        F.cume_dist().over(w).cast("double").alias("cume"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    ).orderBy("c_mktsegment", "rnk", "c_custkey")


@register(
    "grouping_sets_flags",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus), ())
    """,
    doc="explicit GROUPING SETS with GROUPING() null-disambiguation "
    "flags — the general form behind rollup_qty / cube_counts. "
    "Expressed via Spark SQL over a temp view (the DataFrame API "
    "exposes only rollup/cube); Catalyst expands the sets into one "
    "Expand + single aggregate, so the input is scanned once.",
)
def grouping_sets_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    view = "li_grouping_sets_src"
    li.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS TINYINT) AS g_flag,
               CAST(grouping(l_linestatus) AS TINYINT) AS g_status,
               COUNT(*) AS n
        FROM {view}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus), ())
        """
    )


@register(
    "approx_percentiles_events",
    """
    WITH ex AS (
      SELECT event_type,
             quantile_cont(value, 0.5) AS p50_exact,
             quantile_cont(value, 0.99) AS p99_exact,
             COUNT(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, TRUE AS p50_within_band, TRUE AS p99_within_band
    FROM ex ORDER BY event_type
    """,
    doc="approximate percentiles (Greenwald-Khanna percentile_approx) "
    "under an error-band contract, like approx_distinct_parts: the "
    "sketch values are engine-specific, so the hash-checked claim is "
    "that Spark's accuracy-10000 estimate lands within the value range "
    "spanned by the exact percentile's +/-1% rank neighborhood, and "
    "the oracle pins both booleans TRUE per group. At 100 TB the "
    "sketch is the only option — exact percentiles need a full sort.",
)
def approx_percentiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    agged = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50_a"),
        F.percentile_approx("value", 0.99, 10000).alias("p99_a"),
        F.expr("percentile(value, 0.49)").alias("p49"),
        F.expr("percentile(value, 0.51)").alias("p51"),
        F.expr("percentile(value, 0.98)").alias("p98"),
        F.expr("percentile(value, 1.0)").alias("p100"),
        F.count(F.lit(1)).alias("n"),
    )
    return agged.select(
        "event_type",
        "n",
        F.col("p50_a").between(F.col("p49"), F.col("p51")).alias(
            "p50_within_band"
        ),
        F.col("p99_a").between(F.col("p98"), F.col("p100")).alias(
            "p99_within_band"
        ),
    ).orderBy("event_type")


@register(
    "full_outer_reconciliation",
    """
    WITH li AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2)
                  AS DOUBLE) AS shipped_value
      FROM lineitem GROUP BY 1
    ), ord AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,2))), 2)
                  AS DOUBLE) AS ordered_value
      FROM orders GROUP BY 1
    )
    SELECT COALESCE(li.d, ord.d) AS d,
           shipped_value, ordered_value,
           li.d IS NOT NULL AS has_shipments,
           ord.d IS NOT NULL AS has_orders
    FROM li FULL OUTER JOIN ord ON li.d = ord.d
    ORDER BY d
    """,
    doc="FULL OUTER join (completes the engine's join-type matrix — the "
    "reference has only left/semi/anti): per-day shipped vs ordered "
    "value reconciliation, null-flagged on both sides. Both inputs "
    "pre-aggregate to day grain before the join, so the full-outer "
    "shuffle carries dates, not rows.",
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_shipdate").cast("date").alias("d"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
            .cast("double")
            .alias("shipped_value")
        )
        .alias("li")
    )
    orders = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(20,2)")), 2)
            .cast("double")
            .alias("ordered_value")
        )
        .alias("ord")
    )
    return (
        li.join(orders, F.col("li.d") == F.col("ord.d"), "full_outer")
        .select(
            F.coalesce(F.col("li.d"), F.col("ord.d")).alias("d"),
            "shipped_value",
            "ordered_value",
            F.col("li.d").isNotNull().alias("has_shipments"),
            F.col("ord.d").isNotNull().alias("has_orders"),
        )
        .orderBy("d")
    )


@register(
    "array_functions_suite",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      WHERE doc_id < 200
    )
    SELECT doc_id,
           len(tk) AS n_tokens,
           len(list_distinct(tk)) AS n_distinct,
           list_contains(tk, 'data') AS has_data,
           array_to_string(list_sort(list_distinct(tk)), ',') AS sorted_vocab,
           tk[1] AS first_token,
           tk[len(tk)] AS last_token,
           array_to_string(list_reverse(tk), ' ') AS reversed_text
    FROM toks ORDER BY doc_id
    """,
    doc="array-function suite over tokenized documents: size / "
    "array_distinct / array_contains / sort_array / element_at (first "
    "and last) / reverse — all JVM-side array expressions inside one "
    "projection (array outputs re-joined to strings for the harness's "
    "scalar-column constraint).",
)
def array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = docs.select("doc_id", F.split("text", " ").alias("tk"))
    return toks.select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.size(F.array_distinct("tk")).alias("n_distinct"),
        F.array_contains("tk", "data").alias("has_data"),
        F.concat_ws(",", F.sort_array(F.array_distinct("tk"))).alias(
            "sorted_vocab"
        ),
        F.element_at("tk", 1).alias("first_token"),
        F.element_at("tk", -1).alias("last_token"),
        F.concat_ws(" ", F.reverse("tk")).alias("reversed_text"),
    ).orderBy("doc_id")


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate"]


@register(
    "profile_columns_lineitem",
    " UNION ALL ".join(
        f"""
    SELECT '{c}' AS column_name,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM lineitem
    """
        for c in _PROFILE_COLS
    )
    + " ORDER BY column_name",
    doc="column-level data profiling (null count, distinct count, "
    "min/max) for five lineitem columns in ONE scan: a single "
    "aggregate row computes every measure, then unpivots to one row "
    "per column. The oracle's per-column UNION ALL scans five times — "
    "at 100 TB the single-pass shape is 5x less IO, which is the "
    "point of the operator. Values stringified into a shared schema. "
    "Timestamp min/max stringify through a pinned UTC format so the "
    "compared bytes match DuckDB's naive rendering.",
)
def profile_columns_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")

    def stringify(col):
        return col.cast("string")

    def as_str(c: str, agg):
        # aggregate on the NATIVE type (numeric/timestamp ordering),
        # stringify the result — stringifying first would make min/max
        # lexicographic
        col = agg(F.col(c))
        if dict(li.dtypes)[c].startswith("timestamp"):
            return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        return stringify(col)

    aggs = []
    for c in _PROFILE_COLS:
        aggs.extend(
            [
                (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"{c}__nn"),
                F.countDistinct(F.col(c)).alias(f"{c}__nd"),
                as_str(c, F.min).alias(f"{c}__mn"),
                as_str(c, F.max).alias(f"{c}__mx"),
            ]
        )
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    ).orderBy("column_name")


@register(
    "skew_heavy_hitters",
    f"""
    WITH freq AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT COUNT(*) AS total, COUNT(DISTINCT user_id) AS nkeys
      FROM events
    )
    SELECT user_id, n,
           {sql_round_div('n * 1.0', 'total', 6)} AS share,
           {sql_round_div('(n * nkeys) * 1.0', 'total', 4)} AS x_mean
    FROM freq CROSS JOIN tot
    ORDER BY n DESC, user_id LIMIT 10
    """,
    doc="heavy-hitter skew profile of the events grouping key: top-10 "
    "keys with their share of all rows and their multiple of the mean "
    "key frequency (x_mean > ~4 on a join/agg key is the signal to "
    "salt or let AQE skew-split — operators/skew.py). One hash-"
    "aggregate + a 1-row broadcast of the totals; top-k via "
    "sort+limit (TakeOrderedAndProject), never a global window.",
)
def skew_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = ev.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("user_id").alias("nkeys"),
    )
    return (
        freq.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            round_div(F.col("n") * F.lit(1.0), F.col("total"), 6).alias("share"),
            round_div(
                (F.col("n") * F.col("nkeys")) * F.lit(1.0), F.col("total"), 4
            ).alias("x_mean"),
        )
        .orderBy(F.col("n").desc(), "user_id")
        .limit(10)
    )


_EWMA_LAGS = 10  # taps; weight_k = 2^-k (dyadic -> exact float scaling)


@register(
    "ewma_value_10tap",
    f"""
    WITH ordered AS (
      SELECT user_id, event_id, value,
             {" ,".join(
                 f"LAG(value, {k}) OVER (PARTITION BY user_id "
                 f"ORDER BY ts, event_id) AS l{k}"
                 for k in range(_EWMA_LAGS)
             )}
      FROM events
    )
    SELECT user_id, event_id,
           {sql_round_div(
               "CAST((" + " + ".join(
                   f"COALESCE(CAST(l{k} * {2.0 ** -k!r} AS DECIMAL(24,10)),"
                   " CAST(0 AS DECIMAL(24,10)))"
                   for k in range(_EWMA_LAGS)
               ) + ") AS DOUBLE)",
               "CAST((" + " + ".join(
                   f"CASE WHEN l{k} IS NOT NULL THEN "
                   f"CAST({2.0 ** -k!r} AS DECIMAL(12,10)) "
                   "ELSE CAST(0 AS DECIMAL(12,10)) END"
                   for k in range(_EWMA_LAGS)
               ) + ") AS DOUBLE)",
           )} AS ewma
    FROM ordered
    """,
    doc="exponentially-weighted moving average of event value per user "
    f"(half-life 1 row, {_EWMA_LAGS} taps), the standard market-data "
    "smoother the reference's weekly AVG cannot express. Cross-engine "
    "exactness: weights 2^-k make each tap an EXACT float scaling "
    "(exponent shift, no rounding), snapped to decimals and summed "
    "exactly; the normalizing weight sum is an exact dyadic decimal; "
    "one final rounded quotient. One window pass (10 LAG taps share "
    "the user_id/ts frame and partitioning) — no self-join fan-out, "
    "no Python; at scale this shuffles events once on user_id.",
)
def ewma_value_10tap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", k).over(w).alias(f"l{k}") for k in range(_EWMA_LAGS)]
    ordered = ev.select("user_id", "event_id", *lags)
    zero = F.lit(0).cast("decimal(24,10)")
    num = None
    den = None
    for k in range(_EWMA_LAGS):
        term = F.coalesce(
            (F.col(f"l{k}") * F.lit(2.0**-k)).cast("decimal(24,10)"), zero
        )
        wgt = (
            F.when(
                F.col(f"l{k}").isNotNull(),
                F.lit(2.0**-k).cast("decimal(12,10)"),
            )
            .otherwise(F.lit(0).cast("decimal(12,10)"))
        )
        num = term if num is None else num + term
        den = wgt if den is None else den + wgt
    return ordered.select(
        "user_id",
        "event_id",
        round_div(num.cast("double"), den.cast("double")).alias("ewma"),
    )


@register(
    "rolling_drawdown",
    f"""
    SELECT user_id, event_id,
           {sql_round_div(
               "value",
               "MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
           )} AS dd_ratio
    FROM events
    """,
    doc="rolling drawdown: each value as a fraction of the running "
    "maximum seen so far per user (the market risk metric; ratio < 1 "
    "is a drawdown). Running max is an exact double comparison chain "
    "(no arithmetic), the ratio one IEEE division of identical "
    "operands — deterministic across engines via the decimal-quotient "
    "rounding. One window pass sharing the user_id partitioning.",
)
def rolling_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        round_div(F.col("value"), F.max("value").over(w)).alias("dd_ratio"),
    )


@register(
    "running_distinct_event_types",
    """
    SELECT user_id, event_id,
           -- CAST: DuckDB windowed SUM(INTEGER) is HUGEINT -> float64 via
           -- the driver's pandas path; Spark emits int64. Same root cause
           -- as the sessionization driver-hash mismatch.
           CAST(SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT)
             AS n_types_seen
    FROM (
      SELECT user_id, event_id, ts,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    """,
    doc="running COUNT(DISTINCT) — the cumulative number of distinct "
    "event types a user has exhibited up to each event, which a plain "
    "windowed COUNT(DISTINCT) cannot express in either engine. Shape: "
    "flag each (user, type)'s first occurrence with one window, then a "
    "running integer sum with another — two key-partitioned window "
    "passes, all-integer so the hash is exact. The same shape gives "
    "running distinct users per item, first-touch attribution, etc.",
)
def running_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "is_first"
        ),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("is_first").over(w_run).alias("n_types_seen"),
    )


@register(
    "hourly_activity_bitmask",
    """
    SELECT user_id, day,
           -- CAST: DuckDB SUM over integer types is HUGEINT -> float64 via
           -- the driver's pandas path; Spark emits int64.
           CAST(SUM(1::BIGINT << h) AS BIGINT) AS hour_mask,
           COUNT(*) AS n_active_hours
    FROM (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
             EXTRACT(hour FROM ts) AS h
      FROM events
    )
    GROUP BY user_id, day
    """,
    doc="per-(user, day) activity bitmask: bit k set iff the user was "
    "active in hour k — the compact retention/engagement encoding "
    "(bitmaps AND/OR across days for cohort algebra at a fraction of "
    "the distinct-count cost). Built portably as DISTINCT hour rows "
    "then SUM(1<<hour) — exactly bit_or, since each power appears "
    "once after the distinct. All-integer, two hash aggregations, "
    "both partially aggregated map-side.",
)
def hourly_activity_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    distinct_hours = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").alias("h"),
    ).distinct()
    return distinct_hours.groupBy("user_id", "day").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), h)")).alias("hour_mask"),
        F.count(F.lit(1)).alias("n_active_hours"),
    )


@register(
    "range_frame_7day_revenue",
    """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) - DATE '1992-01-01' AS dnum,
             SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS rev
      FROM lineitem
      GROUP BY 1, 2
    )
    SELECT l_suppkey, dnum,
           CAST(SUM(rev) OVER (PARTITION BY l_suppkey ORDER BY dnum
                               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rev_7day
    FROM daily
    """,
    bench=True,
    doc="time-based RANGE frame: per supplier, revenue over the "
    "trailing 7 CALENDAR days — semantically different from the "
    "ROWS-based rolling_avg_7rows whenever ship days are sparse (a "
    "gap shrinks the window instead of reaching further back). "
    "Ordering key is an integer day number so RANGE 6 PRECEDING means "
    "the same interval in both engines; revenue stays in exact "
    "decimals until the final cast. Pre-aggregating to per-(supplier, "
    "day) first shrinks the window input ~20x before the one "
    "supplier-partitioned shuffle — same scale shape as "
    "rolling_avg_7rows.",
)
def range_frame_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out_by,
    )

    # fan_out_by(l_suppkey): one exchange serves the daily aggregate and
    # the supplier-partitioned RANGE window (see fan_out_by; no-op on a
    # many-split corpus).
    li = fan_out_by(t(spark, sf_dir, "lineitem"), "l_suppkey")
    daily = (
        li.groupBy(
            "l_suppkey",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1992-01-01")
            ).alias("dnum"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(20,2)")).alias("rev")
        )
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("dnum")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "l_suppkey",
        "dnum",
        F.sum("rev").over(w).cast("double").alias("rev_7day"),
    )


@register(
    "vwap_per_part",
    f"""
    SELECT l_partkey,
           {sql_round_div(
               "CAST(SUM(CAST(l_extendedprice * l_quantity"
               " AS DECIMAL(25,6))) AS DOUBLE)",
               "CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE)",
           )} AS vwap,
           COUNT(*) AS n_fills
    FROM lineitem
    GROUP BY l_partkey
    """,
    doc="volume-weighted average price per part (the execution-quality "
    "benchmark every trading pipeline computes): "
    "sum(price*qty)/sum(qty). Determinism: price has 2 decimals and "
    "qty 2, so each product is EXACT in a double (<= 11 significant "
    "digits) and the DECIMAL(25,6) snap is lossless — both sums are "
    "order-independent exact decimals, then one rounded quotient. One "
    "partial+final hash aggregate keyed on part.",
)
def vwap_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        round_div(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_quantity")).cast(
                    "decimal(25,6)"
                )
            ).cast("double"),
            F.sum(F.col("l_quantity").cast("decimal(20,2)")).cast("double"),
        ).alias("vwap"),
        F.count(F.lit(1)).alias("n_fills"),
    )


_BB_N = 20  # Bollinger window (rows)


@register(
    "bollinger_bands_20d",
    f"""
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2)
                  AS DOUBLE) AS rev
      FROM lineitem GROUP BY 1, 2
    ), stats AS (
      SELECT l_suppkey, d, rev,
             COUNT(*) OVER w AS n,
             CAST(SUM(CAST(rev AS DECIMAL(20,2))) OVER w AS DOUBLE) AS s,
             CAST(SUM(CAST(rev * rev AS DECIMAL(30,4))) OVER w AS DOUBLE)
               AS sq
      FROM daily
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY d
                   ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, d, rev,
           CAST(ROUND(CAST(s / n AS DECIMAL(28,10)), 4) AS DOUBLE) AS mid,
           CAST(ROUND(CAST(s / n
                  + 2 * sqrt((sq - s * s / n) / n) AS DECIMAL(28,10)), 4)
                AS DOUBLE) AS upper_band,
           CAST(ROUND(CAST(s / n
                  - 2 * sqrt((sq - s * s / n) / n) AS DECIMAL(28,10)), 4)
                AS DOUBLE) AS lower_band
    FROM stats WHERE n >= {_BB_N}
    """,
    doc=f"Bollinger bands ({_BB_N}-row window, 2 sigma) over per-"
    "supplier daily revenue — rolling mean ± population-std envelope, "
    "the mean-reversion indicator. Rolling sum and sum-of-squares "
    "accumulate as exact decimals inside the frame (rev has 2 "
    "decimals, rev^2 exactly 4 — both snaps lossless), so mid/std "
    "derive from identical doubles on both engines; sqrt is correctly "
    "rounded IEEE; final values routed through a decimal snap before "
    "ROUND. Same one-shuffle pre-aggregated window shape as "
    "rolling_avg_7rows.",
)
def bollinger_bands_20d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("d")
        .rowsBetween(-(_BB_N - 1), 0)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum(F.col("rev").cast("decimal(20,2)")).over(w).cast("double")
    sq = (
        F.sum((F.col("rev") * F.col("rev")).cast("decimal(30,4)"))
        .over(w)
        .cast("double")
    )
    mid = s / n
    sd = F.sqrt((sq - s * s / n) / n)

    def snap(x):
        return F.round(x.cast("decimal(28,10)"), 4).cast("double")

    return (
        daily.select(
            "l_suppkey",
            "d",
            "rev",
            n.alias("n"),
            snap(mid).alias("mid"),
            snap(mid + 2 * sd).alias("upper_band"),
            snap(mid - 2 * sd).alias("lower_band"),
        )
        .filter(F.col("n") >= _BB_N)
        .drop("n")
    )


@register(
    "twap_value_per_user",
    f"""
    WITH seq AS (
      SELECT user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_us
      FROM events
    )
    SELECT user_id,
           {sql_round_div(
               "CAST(SUM(CAST(value * (next_us - t_us)"
               " AS DECIMAL(30,6))) AS DOUBLE)",
               "CAST(SUM(next_us - t_us) AS DOUBLE)",
           )} AS twap,
           COUNT(*) AS n_intervals
    FROM seq WHERE next_us IS NOT NULL
    GROUP BY user_id
    """,
    doc="time-weighted average value per user: each observation holds "
    "until the next event, so its weight is the interval length "
    "(LEAD) in microseconds — the TWAP aggregation irregular time "
    "series need (a plain AVG over-weights bursts). Products snap to "
    "DECIMAL(30,6) (value*interval doubles are identical both "
    "engines), interval sums are exact integers, one rounded "
    "quotient. One LEAD window + one hash aggregate, both on "
    "user_id.",
)
def twap_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "user_id",
        "value",
        t_us.alias("t_us"),
        F.lead(t_us).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    dt = F.col("next_us") - F.col("t_us")
    return seq.groupBy("user_id").agg(
        round_div(
            F.sum((F.col("value") * dt).cast("decimal(30,6)")).cast("double"),
            F.sum(dt).cast("double"),
        ).alias("twap"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


_RSI_N = 14


@register(
    "rsi_14_daily_revenue",
    f"""
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2)
                  AS DOUBLE) AS rev
      FROM lineitem GROUP BY 1, 2
    ), diffs AS (
      SELECT l_suppkey, d,
             rev - LAG(rev) OVER (PARTITION BY l_suppkey ORDER BY d)
               AS chg
      FROM daily
    ), gl AS (
      SELECT l_suppkey, d,
             COUNT(chg) OVER w AS n,
             CAST(SUM(CAST(GREATEST(chg, 0) AS DECIMAL(20,2))) OVER w
                  AS DOUBLE) AS gains,
             CAST(SUM(CAST(GREATEST(-chg, 0) AS DECIMAL(20,2))) OVER w
                  AS DOUBLE) AS losses
      FROM diffs
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY d
                   ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, d,
           CAST(ROUND(CAST(100.0 * gains / (gains + losses)
                  AS DECIMAL(28,10)), 4) AS DOUBLE) AS rsi
    FROM gl
    WHERE n >= {_RSI_N} AND gains + losses > 0
    """,
    doc=f"RSI ({_RSI_N}-row SMA variant) over per-supplier daily "
    "revenue: up-moves vs down-moves from LAG diffs, framed sums as "
    "exact decimals (diffs of 2-decimal values are exact, GREATEST "
    "preserves that), RSI = 100*gains/(gains+losses) as one identical "
    "double expression snapped before rounding. Completes the "
    "indicator family (EWMA, drawdown, Bollinger, VWAP, TWAP); same "
    "pre-aggregated single-shuffle window shape throughout.",
)
def rsi_14_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    w_lag = Window.partitionBy("l_suppkey").orderBy("d")
    diffs = daily.select(
        "l_suppkey",
        "d",
        (F.col("rev") - F.lag("rev").over(w_lag)).alias("chg"),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("d")
        .rowsBetween(-(_RSI_N - 1), 0)
    )
    gains = (
        F.sum(F.greatest(F.col("chg"), F.lit(0.0)).cast("decimal(20,2)"))
        .over(w)
        .cast("double")
    )
    losses = (
        F.sum(F.greatest(-F.col("chg"), F.lit(0.0)).cast("decimal(20,2)"))
        .over(w)
        .cast("double")
    )
    n = F.count("chg").over(w)
    rsi = F.round(
        (F.lit(100.0) * F.col("gains") / (F.col("gains") + F.col("losses")))
        .cast("decimal(28,10)"),
        4,
    ).cast("double")
    return (
        diffs.select(
            "l_suppkey",
            "d",
            n.alias("n"),
            gains.alias("gains"),
            losses.alias("losses"),
        )
        .filter((F.col("n") >= _RSI_N) & (F.col("gains") + F.col("losses") > 0))
        .select("l_suppkey", "d", rsi.alias("rsi"))
    )


@register(
    "autocorr_lag1_daily_revenue",
    """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2)
                  AS DOUBLE) AS rev
      FROM lineitem GROUP BY 1, 2
    ), pairs AS (
      SELECT l_suppkey, rev AS x,
             LAG(rev) OVER (PARTITION BY l_suppkey ORDER BY d) AS y
      FROM daily
    ), sums AS (
      SELECT l_suppkey, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(20,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(20,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(30,4))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(30,4))) AS DOUBLE) AS syy
      FROM pairs WHERE y IS NOT NULL
      GROUP BY l_suppkey
    )
    SELECT l_suppkey, n,
           CAST(ROUND(CAST((n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                  AS DECIMAL(28,10)), 6) AS DOUBLE) AS r1
    FROM sums
    WHERE n >= 30
      AND (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
    """,
    doc="lag-1 autocorrelation of per-supplier daily revenue (the "
    "persistence/mean-reversion diagnostic): Pearson closed form over "
    "(x, lag(x)) pairs with every sum an exact decimal (2-decimal "
    "values, 4-decimal products — both snaps lossless), identical "
    "IEEE arithmetic and correctly-rounded sqrt, decimal-snapped "
    "ROUND. Same discipline as corr_quantity_price_by_flag, applied "
    "through a LAG window instead of two columns.",
)
def autocorr_lag1_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    w = Window.partitionBy("l_suppkey").orderBy("d")
    pairs = daily.select(
        "l_suppkey",
        F.col("rev").alias("x"),
        F.lag("rev").over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    sums = pairs.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(20,2)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(20,2)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(30,4)"))
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    var_term = (n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy)
    r1 = F.round(
        ((n * F.col("sxy") - sx * sy) / F.sqrt(var_term)).cast(
            "decimal(28,10)"
        ),
        6,
    ).cast("double")
    return sums.filter((n >= 30) & (var_term > 0)).select(
        "l_suppkey", "n", r1.alias("r1")
    )


@register(
    "cusum_changepoint_by_supplier",
    """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2)
                  AS DOUBLE) AS rev
      FROM lineitem GROUP BY 1, 2
    ), means AS (
      SELECT l_suppkey,
             CAST(ROUND(CAST(CAST(SUM(CAST(rev AS DECIMAL(20,2)))
                    AS DOUBLE) / COUNT(*) AS DECIMAL(28,10)), 6)
                  AS DOUBLE) AS mu,
             COUNT(*) AS n_days
      FROM daily GROUP BY l_suppkey
    ), cusum AS (
      SELECT d.l_suppkey, d.d, m.n_days,
             SUM(CAST(d.rev - m.mu AS DECIMAL(22,6))) OVER (
               PARTITION BY d.l_suppkey ORDER BY d.d
               ROWS UNBOUNDED PRECEDING) AS s
      FROM daily d JOIN means m ON d.l_suppkey = m.l_suppkey
    )
    SELECT l_suppkey, n_days, d AS changepoint_date,
           CAST(ABS(s) AS DOUBLE) AS max_abs_cusum
    FROM (
      SELECT c.*, ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                     ORDER BY ABS(s) DESC, d) AS rn
      FROM cusum c
    ) WHERE rn = 1 AND n_days >= 30
    """,
    doc="CUSUM change-point detection per supplier: running sum of "
    "deviations from the series mean; the |cusum| peak locates the "
    "most likely level-shift date — the classic drift detector for "
    "monitoring pipelines. Deviations are exact decimals (2-decimal "
    "revenue minus a 6-decimal-snapped mean), so the running sum and "
    "the argmax ordering are bit-identical across engines. One "
    "aggregate + one join-back + one window, all on the supplier "
    "key.",
)
def cusum_changepoint_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    means = daily.groupBy("l_suppkey").agg(
        round_div(
            F.sum(F.col("rev").cast("decimal(20,2)")).cast("double"),
            F.count(F.lit(1)),
            6,
        ).alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w_run = (
        Window.partitionBy("l_suppkey")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = daily.join(means, "l_suppkey").select(
        "l_suppkey",
        "d",
        "n_days",
        F.sum((F.col("rev") - F.col("mu")).cast("decimal(22,6)"))
        .over(w_run)
        .alias("s"),
    )
    w_rank = Window.partitionBy("l_suppkey").orderBy(
        F.abs(F.col("s")).desc(), "d"
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_rank))
        .filter((F.col("rn") == 1) & (F.col("n_days") >= 30))
        .select(
            "l_suppkey",
            "n_days",
            F.col("d").alias("changepoint_date"),
            F.abs(F.col("s")).cast("double").alias("max_abs_cusum"),
        )
    )


@register(
    "beta_vs_market_by_supplier",
    """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2)
                  AS DOUBLE) AS rev
      FROM lineitem GROUP BY 1, 2
    ), market AS (
      SELECT d, CAST(SUM(CAST(rev AS DECIMAL(20,2))) AS DOUBLE) AS mkt
      FROM daily GROUP BY d
    ), joined AS (
      SELECT s.l_suppkey, s.rev AS x, m.mkt AS y
      FROM daily s JOIN market m ON s.d = m.d
    ), sums AS (
      SELECT l_suppkey, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(20,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(22,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(34,4))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(y * y AS DECIMAL(34,4))) AS DOUBLE) AS syy
      FROM joined GROUP BY l_suppkey
    )
    SELECT l_suppkey, n,
           CAST(ROUND(CAST((n * sxy - sx * sy) / (n * syy - sy * sy)
                  AS DECIMAL(28,10)), 6) AS DOUBLE) AS beta
    FROM sums
    WHERE n >= 30 AND n * syy - sy * sy > 0
    """,
    doc="per-supplier beta against the 'market' (total daily revenue): "
    "cov(x, market)/var(market) from the closed form, every sum an "
    "exact decimal (2-decimal series, 4-decimal products — lossless "
    "snaps), one identical double expression per row. The systematic-"
    "vs-idiosyncratic decomposition every factor pipeline starts "
    "with. Market series is a date-keyed aggregate joined back — one "
    "extra shuffle on date, bounded by the calendar.",
)
def beta_vs_market_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    market = daily.groupBy("d").agg(
        F.sum(F.col("rev").cast("decimal(20,2)")).cast("double").alias("mkt")
    )
    joined = daily.join(F.broadcast(market), "d").select(
        "l_suppkey", F.col("rev").alias("x"), F.col("mkt").alias("y")
    )
    sums = joined.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(20,2)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(22,2)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(34,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(34,4)"))
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    var_m = n * F.col("syy") - sy * sy
    beta = F.round(
        ((n * F.col("sxy") - sx * sy) / var_m).cast("decimal(28,10)"), 6
    ).cast("double")
    return sums.filter((n >= 30) & (var_m > 0)).select(
        "l_suppkey", "n", beta.alias("beta")
    )


@register(
    "max_drawdown_summary",
    f"""
    WITH dd AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             {sql_round_div(
                 "value",
                 "MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
                 "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
             )} AS dd_ratio
      FROM events
    )
    SELECT user_id, dd_ratio AS max_drawdown, t_us AS trough_ts_us
    FROM (
      SELECT dd.*, ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY dd_ratio NULLS LAST,
                                               t_us, event_id)
               AS rn
      FROM dd
    ) WHERE rn = 1
    """,
    doc="maximum drawdown per user — the single risk number the "
    "rolling_drawdown series summarizes to: the deepest "
    "value/running-max ratio and when it happened (argmin with "
    "time/id tiebreaks). Two windows sharing the user_id "
    "partitioning; ratios are the same deterministically-rounded "
    "quotients as rolling_drawdown, so the argmin ordering is "
    "cross-engine stable.",
)
def max_drawdown_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        round_div(F.col("value"), F.max("value").over(w_run)).alias(
            "dd_ratio"
        ),
    )
    # NULLS LAST explicitly on both sides: dd_ratio is NULL when value is
    # NULL or the running max is 0, and Spark's ascending default is
    # NULLS FIRST while DuckDB's is NULLS LAST — one NULL ratio would
    # otherwise flip the rn=1 argmin row between engines.
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("dd_ratio").asc_nulls_last(), "t_us", "event_id"
    )
    return (
        dd.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("dd_ratio").alias("max_drawdown"),
            F.col("t_us").alias("trough_ts_us"),
        )
    )


@register(
    "quantile_normalize_value",
    f"""
    SELECT user_id, event_id,
           {sql_round_div(
               "CAST(RANK() OVER (PARTITION BY event_type "
               "ORDER BY value NULLS LAST, event_id) - 1 AS DOUBLE)",
               "CAST(COUNT(*) OVER (PARTITION BY event_type) - 1 AS DOUBLE)",
           )} AS q_norm
    FROM events
    """,
    doc="quantile normalization of value WITHIN each event_type: each "
    "observation maps to its within-group rank fraction in [0, 1] — "
    "the distribution-free rescaling that makes heterogeneous "
    "populations comparable (feature preprocessing / fair cross-"
    "segment comparison). RANK with an event_id tiebreak is "
    "deterministic; the fraction is one rounded quotient of exact "
    "integers. One window per group partition.",
)
def quantile_normalize_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULLS LAST pinned on both engines (Spark asc defaults NULLS
    # FIRST, DuckDB NULLS LAST — the ADVICE r11 NTILE class)
    w_rank = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("value"), "event_id"
    )
    w_all = Window.partitionBy("event_type")
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        round_div(
            (F.rank().over(w_rank) - F.lit(1)).cast("double"),
            (F.count(F.lit(1)).over(w_all) - F.lit(1)).cast("double"),
        ).alias("q_norm"),
    )


@register(
    "ohlc_multi_granularity",
    """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(20,2))), 2)
                  AS DOUBLE) AS rev
      FROM lineitem GROUP BY 1, 2
    ), keyed AS (
      SELECT l_suppkey, d, rev,
             CAST(date_trunc('week', d) AS DATE) AS wk,
             CAST(date_trunc('month', d) AS DATE) AS mo
      FROM daily
    )
    SELECT l_suppkey,
           CASE WHEN GROUPING(wk) = 0 THEN 'week' ELSE 'month' END AS grain,
           COALESCE(wk, mo) AS bucket_start,
           arg_min(rev, d) AS open_rev,
           MAX(rev) AS high_rev,
           MIN(rev) AS low_rev,
           arg_max(rev, d) AS close_rev
    FROM keyed
    GROUP BY GROUPING SETS ((l_suppkey, wk), (l_suppkey, mo))
    """,
    doc="OHLC resampling at TWO granularities (week + month) in ONE "
    "aggregation pass via GROUPING SETS — the multi-resolution "
    "candlestick build that would otherwise scan the fact twice. "
    "GROUPING() disambiguates the grain; open/close via min_by/max_by "
    "over the unique daily grid (same discipline as weekly_ohlc). "
    "Catalyst expands grouping sets into one Expand + one aggregate — "
    "still a single shuffle.",
)
def ohlc_multi_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.scalars import week_start  # noqa: PLC0415

    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    keyed = daily.select(
        "l_suppkey",
        "d",
        "rev",
        week_start(F.col("d")).alias("wk"),
        F.date_trunc("month", "d").cast("date").alias("mo"),
    )
    keyed.createOrReplaceTempView("ohlc_keyed")
    return spark.sql(
        """
        SELECT l_suppkey,
               CASE WHEN GROUPING(wk) = 0 THEN 'week' ELSE 'month' END
                 AS grain,
               COALESCE(wk, mo) AS bucket_start,
               min_by(rev, d) AS open_rev,
               MAX(rev) AS high_rev,
               MIN(rev) AS low_rev,
               max_by(rev, d) AS close_rev
        FROM ohlc_keyed
        GROUP BY GROUPING SETS ((l_suppkey, wk), (l_suppkey, mo))
        """
    )


@register(
    "array_setops_user_events",
    """
    WITH per_type AS (
      SELECT user_id, event_type,
             BOOL_OR(value >= 50) AS has_hi,
             BOOL_OR(value < 50) AS has_lo
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN has_hi AND has_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_both,
           CAST(COUNT(*) AS BIGINT) AS n_either,
           CAST(SUM(CASE WHEN has_hi AND NOT has_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hi_only,
           SUM(CASE WHEN has_hi AND has_lo THEN 1 ELSE 0 END) > 0
             AS overlaps,
           COALESCE(array_to_string(list_sort(
             list(event_type) FILTER (WHERE has_hi AND has_lo)), ','), '')
             AS both_types
    FROM per_type GROUP BY user_id
    """,
    doc="array set algebra per user: the event-type sets of high-value "
    "(value >= 50) vs low-value events compared with array_intersect / "
    "array_union / array_except / arrays_overlap on sorted-distinct "
    "collected arrays — the segment-overlap primitive (did big "
    "transactions involve different behaviors?). Sets are normalized "
    "(array_sort . array_distinct) so every derived value is "
    "deterministic; the oracle computes the same algebra relationally "
    "via per-(user,type) BOOL_OR flags. One shuffle on user_id; array "
    "kernels are JVM-side codegen. NULL values are excluded from both "
    "sets on both engines.",
)
def array_setops_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    norm = lambda c: F.array_sort(F.array_distinct(F.collect_list(c)))  # noqa: E731
    sets_ = ev.groupBy("user_id").agg(
        norm(
            F.when(F.col("value") >= 50, F.col("event_type"))
        ).alias("hi"),
        norm(
            F.when(F.col("value") < 50, F.col("event_type"))
        ).alias("lo"),
    )
    inter = F.array_intersect("hi", "lo")
    return sets_.select(
        "user_id",
        F.size(inter).cast("long").alias("n_both"),
        F.size(F.array_union("hi", "lo")).cast("long").alias("n_either"),
        F.size(F.array_except("hi", "lo")).cast("long").alias("n_hi_only"),
        F.arrays_overlap("hi", "lo").alias("overlaps"),
        F.concat_ws(",", inter).alias("both_types"),
    )


@register(
    "higher_order_array_suite",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(len(list_filter(tk, x -> length(x) > 4)) AS BIGINT)
             AS n_long,
           len(list_filter(tk, x -> x LIKE 's%')) > 0 AS has_s_token,
           len(list_filter(tk, x -> length(x) = 0)) = 0 AS all_nonempty,
           CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT)
             AS total_chars,
           CAST(list_max(list_transform(tk, x -> length(x))) AS BIGINT)
             AS max_token_len
    FROM toks ORDER BY doc_id
    """,
    doc="higher-order lambda function suite over tokenized documents: "
    "filter (predicate count), exists (prefix test), forall "
    "(universal emptiness check), aggregate (fold to total chars), "
    "transform + array_max (mapped maximum) — the lambda-expression "
    "API surface (Spark HigherOrderFunctions, codegen'd JVM-side, "
    "no Python). DuckDB twins are the list_* lambda kernels; every "
    "output folds to a scalar so the hash contract holds. Map-only "
    "except the final presentation sort.",
)
def higher_order_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = docs.select("doc_id", F.split("text", " ").alias("tk"))
    return toks.select(
        "doc_id",
        F.size(F.filter("tk", lambda x: F.length(x) > 4))
        .cast("long")
        .alias("n_long"),
        F.exists("tk", lambda x: x.startswith("s")).alias("has_s_token"),
        F.forall("tk", lambda x: F.length(x) > 0).alias("all_nonempty"),
        F.aggregate(
            "tk", F.lit(0), lambda acc, x: acc + F.length(x)
        )
        .cast("long")
        .alias("total_chars"),
        F.array_max(F.transform("tk", lambda x: F.length(x)))
        .cast("long")
        .alias("max_token_len"),
    ).orderBy("doc_id")


@register(
    "mad_robust_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           d.med, m.mad,
           CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, d.med, m.mad
    """,
    doc="robust outlier detection via median/MAD — the quality filter "
    "zscore_outliers' mean/sigma version breaks on: one huge outlier "
    "inflates sigma and hides the rest (masking), while the median "
    "and the median absolute deviation have a 50% breakdown point. "
    "Flag = |x - med| > 3 * 1.4826 * MAD (1.4826 scales MAD to sigma "
    "under normality). Two grouped exact interpolated percentiles "
    "(bit-identical to DuckDB quantile_cont — same sort + linear "
    "interpolation, proven by percentiles_by_event_type) with the "
    "tiny per-group medians broadcast back between them. At 100 TB "
    "exact per-group percentiles are one sort-based aggregate per "
    "pass; a streaming deployment swaps in percentile_approx with the "
    "same call shape.",
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
                ).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select("event_type", "n", "med", "mad", "n_outliers")
    )


@register(
    "collation_case_insensitive_group",
    """
    SELECT lower(mixed) AS event_type_ci,
           COUNT(*) AS n,
           CAST(COUNT(DISTINCT mixed) AS BIGINT) AS n_case_variants
    FROM (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS mixed
      FROM events
    )
    GROUP BY lower(mixed)
    """,
    doc="string collation surface (Spark 4 COLLATE): event types "
    "case-mangled per row, then grouped under the UTF8_LCASE "
    "collation — 'CLICK' and 'click' land in ONE group natively, no "
    "lower() rewrite in the grouping key. The oracle is the classic "
    "lower()-normalized GROUP BY; n_case_variants pins that the "
    "collated group genuinely merged distinct binary strings. "
    "Collation-aware grouping matters at 100 TB because the "
    "normalization stays inside codegen and the optimizer can still "
    "prune/push on the original column — no derived-column "
    "materialization. Output keys are lower-cased for a "
    "render-deterministic comparison (the collated group's "
    "representative string is engine-chosen).",
)
def collation_case_insensitive_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    mixed = ev.select(
        F.when(
            F.col("event_id") % 2 == 0, F.upper(F.col("event_type"))
        )
        .otherwise(F.col("event_type"))
        .alias("mixed")
    )
    coll = mixed.select(F.collate(F.col("mixed"), "UTF8_LCASE").alias("m"))
    return (
        coll.groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.collate(F.col("m"), "UTF8_BINARY")).alias(
                "n_case_variants"
            ),
        )
        .select(
            F.lower(F.col("m")).alias("event_type_ci"), "n", "n_case_variants"
        )
    )


@register(
    "try_functions_suite",
    """
    SELECT o_orderkey,
           o_totalprice / NULLIF(o_custkey % 3, 0) AS safe_div,
           TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast,
           CASE WHEN o_orderkey > 0 THEN CAST(NULL AS BIGINT)
                ELSE o_orderkey + 9223372036854775807 END AS overflow_add,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER)
             AS prio_digit
    FROM orders
    """,
    doc="ANSI-safe try_* function family (try_divide / try_cast / "
    "try_add): division by a sometimes-zero denominator yields NULL "
    "instead of an error (oracle: NULLIF guard — identical IEEE "
    "division where defined), a non-numeric cast yields NULL "
    "(TRY_CAST both engines), try_add at LONG_MAX overflows to NULL "
    "for every positive key (oracle pins the conditional NULL — "
    "DuckDB has no non-erroring bigint overflow to mirror; the "
    "o_orderkey = 0 row does NOT overflow and carries the real sum "
    "on both sides), and the leading priority digit parses "
    "through try_cast. This is the error-handling contract that "
    "keeps a 100 TB job from dying on one malformed row while "
    "staying entirely inside codegen — the declarative alternative "
    "to row-level try/except UDFs.",
)
def try_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), F.col("o_custkey") % 3
        ).alias("safe_div"),
        F.col("o_orderpriority").try_cast("int").alias("bad_cast"),
        F.try_add(
            F.col("o_orderkey"), F.lit(9223372036854775807)
        ).alias("overflow_add"),
        F.substring(F.col("o_orderpriority"), 1, 1)
        .try_cast("int")
        .alias("prio_digit"),
    )


@register(
    "tick_rule_trade_signs",
    """
    WITH px AS (
      SELECT user_id, event_id, ts, value,
             value - lag(value) OVER w AS dp
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ticked AS (
      SELECT user_id, event_id, value,
             CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN -1 END AS tick
      FROM px
    ),
    signed AS (
      SELECT user_id, value,
             COALESCE(last_value(tick IGNORE NULLS)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING), 0) AS sign
      FROM (
        SELECT t.*, p.ts FROM ticked t
        JOIN px p USING (user_id, event_id)
      )
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_buys,
           CAST(SUM(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sells,
           CAST(SUM(CASE WHEN sign = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unclassified,
           CAST(SUM(CAST(sign * value AS DECIMAL(20,6))) AS DOUBLE)
             AS signed_flow
    FROM signed
    GROUP BY user_id
    """,
    doc="tick-rule trade-sign classification (the Lee-Ready tick test "
    "every microstructure pipeline starts from): an observation is a "
    "buy on an uptick, a sell on a downtick, and on a ZERO tick "
    "carries the last non-zero tick forward — the carry is "
    "last(ignoreNulls) over the ordered per-instrument window, the "
    "gaps-and-islands cousin the indicator family didn't yet "
    "witness. Leading unclassified rows (no prior tick) count "
    "separately; signed order flow (sum of sign x value) rides exact "
    "decimals. One window pass per instrument + one aggregate — same "
    "per-key locality as every indicator; both engines evaluate the "
    "identical carry chain (Spark F.last(ignorenulls) ≡ DuckDB "
    "last_value IGNORE NULLS over the same explicit frame).",
)
def tick_rule_trade_signs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dp = F.col("value") - F.lag("value").over(w)
    ticked = ev.withColumn(
        "tick",
        F.when(dp > 0, F.lit(1)).when(dp < 0, F.lit(-1)),
    )
    carry = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    signed = ticked.withColumn(
        "sign",
        F.coalesce(F.last("tick", ignorenulls=True).over(carry), F.lit(0)),
    )
    return signed.groupBy("user_id").agg(
        F.sum((F.col("sign") == 1).cast("int")).cast("long").alias("n_buys"),
        F.sum((F.col("sign") == -1).cast("int")).cast("long").alias("n_sells"),
        F.sum((F.col("sign") == 0).cast("int")).cast("long").alias(
            "n_unclassified"
        ),
        F.sum(
            (F.col("sign") * F.col("value")).cast("decimal(20,6)")
        )
        .cast("double")
        .alias("signed_flow"),
    )


_M4_W = 16  # horizontal resolution (buckets per series)


@register(
    "m4_downsample",
    f"""
    WITH bounds AS (
      SELECT epoch_us(MIN(CAST(ts AS TIMESTAMP))) AS t0,
             epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS t1
      FROM events
    ),
    pts AS (
      SELECT user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_id,
             LEAST({_M4_W - 1},
                   (epoch_us(CAST(ts AS TIMESTAMP)) - t0) * {_M4_W}
                     // (t1 - t0 + 1)) AS bucket
      FROM events CROSS JOIN bounds
    )
    SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(t_us) AS t_first_us,
           first(value ORDER BY t_us, event_id) AS v_first,
           MAX(t_us) AS t_last_us,
           last(value ORDER BY t_us, event_id) AS v_last,
           MIN(value) AS v_min,
           MAX(value) AS v_max
    FROM pts
    GROUP BY user_id, bucket
    """,
    doc="M4 time-series downsampling (Jugel et al., VLDB 2014 — the "
    "width-aware decimation dashboards use): each series is cut into "
    f"{_M4_W} equal time buckets and each bucket keeps its four "
    "defining points (first, last, min, max) — the only points that "
    "can affect a line rendered at that horizontal resolution, so "
    "the decimated series is pixel-exact while shrinking rows from "
    "n to 4W per series. Relational shape: one 1-row global bounds "
    "broadcast, one integer bucket expression, ONE hash aggregate "
    "with deterministic first/last via arg_min/arg_max over the "
    "unique (t, event_id) order. At 100 TB this runs per series in "
    "one pass — the query-time alternative to storing pre-decimated "
    "rollups, and the same partial+final aggregate shape as every "
    "profile query here.",
)
def m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).alias("t0"),
        F.unix_micros(F.max("ts")).alias("t1"),
    )
    t_us = F.unix_micros(F.col("ts"))
    pts = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "value",
        t_us.alias("t_us"),
        "event_id",
        F.least(
            F.lit(_M4_W - 1),
            F.expr(
                f"(unix_micros(ts) - t0) * {_M4_W} DIV (t1 - t0 + 1)"
            ),
        ).alias("bucket"),
    )
    order = F.struct(F.col("t_us"), F.col("event_id"))
    return pts.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("t_us").alias("t_first_us"),
        F.min_by("value", order).alias("v_first"),
        F.max("t_us").alias("t_last_us"),
        F.max_by("value", order).alias("v_last"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )


@register(
    "ab_test_proportions",
    """
    WITH users AS (
      SELECT user_id,
             (('0x' || substring(md5(concat('ab:',
                 CAST(user_id AS VARCHAR))), 1, 2))::BIGINT < 128) AS arm_a,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 200
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(SUM(CASE WHEN arm_a THEN converted ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN NOT arm_a THEN converted ELSE 0 END)
               AS BIGINT) AS conv_b
      FROM users
    )
    SELECT n_a, n_b, conv_a, conv_b,
           CAST(ROUND(CAST(conv_a / n_a AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS rate_a,
           CAST(ROUND(CAST(conv_b / n_b AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS rate_b,
           CAST(ROUND(CAST(
             (conv_a / n_a - conv_b / n_b)
             / sqrt(((conv_a + conv_b) / (n_a + n_b))
                    * (1.0 - (conv_a + conv_b) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b))
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS z_stat,
           abs((conv_a / n_a - conv_b / n_b)
               / sqrt(((conv_a + conv_b) / (n_a + n_b))
                      * (1.0 - (conv_a + conv_b) / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant
    FROM arms
    """,
    doc="two-sample proportion test (the product-analytics A/B "
    "readout): users split into arms by a content-free md5 bucket "
    "(RNG-free, stable under repartitioning — the same deterministic "
    "assignment discipline as split_leakage_safe), conversion = a "
    "high-value purchase (the fixture converts every user on the "
    "any-purchase definition, which degenerates the pooled variance "
    "to zero), pooled two-proportion z-statistic with the 1.96 "
    "two-sided significance gate. Every arithmetic step is the "
    "identical IEEE sequence on both engines (integer counts, one "
    "division chain, one correctly-rounded sqrt), with the reported "
    "z decimal-snapped. One user-grain aggregate + one 1-row fold — "
    "at 100 TB the experiment readout is a constant-size row "
    "whatever the user count.",
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        portable_hash60,
    )

    ev = t(spark, sf_dir, "events")
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("ab:"), F.col("user_id").cast("string")).cast(
                    "binary"
                )
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("long")
    users = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") >= 200)
            ).cast("int")
        ).alias("converted")
    ).select(
        "user_id", "converted", (bucket < 128).alias("arm_a")
    )
    arms = users.agg(
        F.sum(F.col("arm_a").cast("int")).cast("long").alias("n_a"),
        F.sum((~F.col("arm_a")).cast("int")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm_a"), F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(~F.col("arm_a"), F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pa - pb) / F.sqrt(
        pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    snap = lambda c: F.round(c.cast("decimal(28,10)"), 6).cast(  # noqa: E731
        "double"
    )
    return arms.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        snap(pa).alias("rate_a"),
        snap(pb).alias("rate_b"),
        snap(z).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# --------------------------------------------------------------------
# equi_depth_histogram_stats
# --------------------------------------------------------------------

_EH_BUCKETS = 10


def _histo_oracle() -> str:
    return f"""
    WITH ranked AS (
      SELECT event_type, value,
             NTILE({_EH_BUCKETS}) OVER (
               PARTITION BY event_type ORDER BY value NULLS LAST, event_id
             ) AS bucket
      FROM events
    )
    SELECT event_type,
           CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM ranked
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """


@register(
    "equi_depth_histogram_stats",
    _histo_oracle(),
    doc="the optimizer-statistics artifact itself: per-group "
    "equi-depth histograms (NTILE over a TOTAL order — value with "
    "event_id tiebreak, so bucket boundaries are bit-identical across "
    "engines) with per-bucket row counts and [min, max] bounds — what "
    "a cost-based optimizer consumes for range-selectivity estimates "
    "and what ANALYZE TABLE materializes. Bounds are raw untouched "
    "doubles: no arithmetic, so no rounding boundary can exist in the "
    "compared bytes. 100 TB shape: one partitioned window (per-group "
    "sort — the price every histogram build pays, parallel across "
    "groups) + one hash aggregate; output size is groups x buckets, "
    "constant in row count — persist per snapshot and selectivity "
    "lookups never rescan. Complements value_histogram_by_event_type "
    "(equi-WIDTH: fixed ranges, variable counts) with the equi-DEPTH "
    "dual (fixed counts, data-driven ranges).",
)
def equi_depth_histogram_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    # NULLS LAST pinned explicitly: Spark's ascending default is NULLS
    # FIRST, DuckDB's is NULLS LAST — a NULL value would silently shift
    # every bucket assignment between engines
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("value"), "event_id"
    )
    ranked = ev.select(
        "event_type",
        "value",
        F.ntile(_EH_BUCKETS).over(w).alias("bucket"),
    )
    return (
        ranked.groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type", "bucket")
    )


# --------------------------------------------------------------------
# json_schema_infer
# --------------------------------------------------------------------

# planted JSON shapes by event_id % 6 (the house idiom) — the fixture
# props column is uniformly {"k": <int>}, too regular to witness
# inference
_JS_PATHS = ["$.k", "$.extra.v"]
_JS_INT_RE = "^-?[0-9]+$"
_JS_FLOAT_RE = "^-?[0-9]+[.][0-9]+$"


def _js_doc_sql() -> str:
    v = "CAST(event_id % 100 AS VARCHAR)"
    return f"""
        CASE event_id % 6
          WHEN 0 THEN '{{"k": ' || {v} || '}}'
          WHEN 1 THEN '{{"k": "s' || {v} || '"}}'
          WHEN 2 THEN '{{"k": ' || {v} || '.5}}'
          WHEN 3 THEN '{{"k": ' || (CASE WHEN event_id % 2 = 0
                                    THEN 'true' ELSE 'false' END) || '}}'
          WHEN 4 THEN '{{"k": ' || {v} || ', "extra": {{"v": '
                   || {v} || '}}}}'
          ELSE '{{}}'
        END
    """


def _js_oracle() -> str:
    path_union = " UNION ALL ".join(
        f"SELECT '{p}' AS path" for p in _JS_PATHS
    )
    return f"""
    WITH raw AS (
      SELECT event_id, {_js_doc_sql()} AS j FROM events
    ),
    paths AS ({path_union}),
    ext AS (
      SELECT p.path, json_extract_string(r.j, p.path) AS v
      FROM raw r CROSS JOIN paths p
    ),
    cls AS (
      SELECT path,
             CASE WHEN v IS NULL THEN 'missing'
                  WHEN v IN ('true', 'false') THEN 'bool'
                  WHEN regexp_matches(v, '{_JS_INT_RE}') THEN 'int'
                  WHEN regexp_matches(v, '{_JS_FLOAT_RE}') THEN 'float'
                  ELSE 'string' END AS type_class
      FROM ext
    ),
    tot AS (SELECT path, COUNT(*) AS n FROM cls GROUP BY path)
    SELECT c.path, c.type_class,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           {sql_round_div('COUNT(*)', 't.n')} AS fraction
    FROM cls c JOIN tot t USING (path)
    GROUP BY c.path, c.type_class, t.n
    ORDER BY c.path, c.type_class
    """


@register(
    "json_schema_infer",
    _js_oracle(),
    doc="semi-structured schema inference: per JSON path, the observed "
    "value-class distribution (missing / int / float / bool / "
    "string) with presence fractions — the first profile a data lake "
    "runs on a new feed, and the DISCOVERY complement of the "
    "registered extractors (json_path_extract / variant_path_extract "
    "consume a known schema). Six planted JSON shapes by event_id "
    "residue (int / quoted-string / float / bool / nested-object / "
    "empty) exercise every class including the missing-path case on "
    "both a top-level and a nested path. Classification is value-"
    "pattern-based on the canonical string extraction — Spark "
    "get_json_object and DuckDB json_extract_string return byte-"
    "identical strings on every shape (verified), so the CASE chain "
    "cannot diverge; the quoted-number ambiguity ('5' vs 5) is "
    "inherent to string extraction and documented — production swaps "
    "in variant typeof, same plan shape. 100 TB shape: map-only "
    "extraction per (row x path, path list is a tiny literal) + one "
    "hash aggregate bounded by paths x classes; the profile is "
    "persistable per feed snapshot.",
)
def json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    ev = fan_out(t(spark, sf_dir, "events").select("event_id"))
    v = (F.col("event_id") % 100).cast("string")
    m = F.col("event_id") % 6
    j = (
        F.when(m == 0, F.concat(F.lit('{"k": '), v, F.lit("}")))
        .when(m == 1, F.concat(F.lit('{"k": "s'), v, F.lit('"}')))
        .when(m == 2, F.concat(F.lit('{"k": '), v, F.lit(".5}")))
        .when(
            m == 3,
            F.concat(
                F.lit('{"k": '),
                F.when(F.col("event_id") % 2 == 0, "true").otherwise(
                    "false"
                ),
                F.lit("}"),
            ),
        )
        .when(
            m == 4,
            F.concat(
                F.lit('{"k": '),
                v,
                F.lit(', "extra": {"v": '),
                v,
                F.lit("}}"),
            ),
        )
        .otherwise(F.lit("{}"))
    )
    raw = ev.select("event_id", j.alias("j"))
    ext = raw.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("path"),
                        F.get_json_object("j", p).alias("v"),
                    )
                    for p in _JS_PATHS
                ]
            )
        ).alias("e")
    ).select("e.path", "e.v")
    cls = ext.select(
        "path",
        F.when(F.col("v").isNull(), "missing")
        .when(F.col("v").isin("true", "false"), "bool")
        .when(F.col("v").rlike(_JS_INT_RE), "int")
        .when(F.col("v").rlike(_JS_FLOAT_RE), "float")
        .otherwise("string")
        .alias("type_class"),
    )
    tot = cls.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    return (
        cls.groupBy("path", "type_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_values"))
        .join(F.broadcast(tot), "path")
        .select(
            "path",
            "type_class",
            "n_values",
            round_div(F.col("n_values"), F.col("n")).alias("fraction"),
        )
        .orderBy("path", "type_class")
    )


# --------------------------------------------------------------------
# seasonal_naive_backtest
# --------------------------------------------------------------------

_SN_DAY_US = 86_400_000_000
_SN_LAG = 7  # the seasonal-naive lag (weekly seasonality)


def _backtest_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_SN_DAY_US} AS day,
             SUM(CAST(value AS DECIMAL(20,6))) AS actual
      FROM events GROUP BY 1, 2
    ),
    joined AS (
      SELECT d.event_type, d.day, d.actual, p.actual AS forecast
      FROM daily d
      JOIN daily p ON p.event_type = d.event_type
                  AND p.day = d.day - {_SN_LAG}
    ),
    per_type AS (
      SELECT event_type,
             COUNT(*) AS n_eval,
             SUM(ABS(actual - forecast)) AS abs_err,
             SUM(actual - forecast) AS err
      FROM joined GROUP BY event_type
    ),
    days AS (
      SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY 1
    )
    SELECT p.event_type,
           CAST(d.n_days AS BIGINT) AS n_days,
           CAST(p.n_eval AS BIGINT) AS n_eval,
           {sql_round_div('p.abs_err', 'p.n_eval')} AS mae,
           {sql_round_div('p.err', 'p.n_eval')} AS bias
    FROM per_type p JOIN days d USING (event_type)
    ORDER BY p.event_type
    """


@register(
    "seasonal_naive_backtest",
    _backtest_oracle(),
    doc="forecast backtesting — the evaluation loop every metrics "
    "platform runs before trusting a model: the seasonal-naive "
    "baseline forecast(d) = actual(d - 7) per series (the benchmark "
    "every real forecaster must beat, per the M-competitions), "
    "scored with MAE and signed bias. Daily actuals are exact "
    "DECIMAL sums (order-independent), the error aggregates stay "
    "DECIMAL end-to-end, and each output metric takes ONE terminal "
    "rounding through the shared decimal route — no float "
    "reassociation anywhere. Day buckets are epoch_us div 86400000000 (integer truncation on both engines), "
    "timezone-free integers. Only days with an "
    "observation 7 days prior are evaluable — n_eval vs n_days makes "
    "the coverage explicit rather than silently imputing. 100 TB "
    "shape: one hash aggregate to daily grain (map-side combine "
    "collapses events before any shuffle), one self equi-join on "
    "(series, day-7) at DAILY grain — series x days rows, thousands "
    "of times smaller than the event stream — then a series-keyed "
    "fold; persist the daily table and successive backtests never "
    "rescan raw events.",
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        # integer `div` matches DuckDB's integer // (both truncate
        # toward zero) for ALL inputs incl. pre-1970 ts
        F.expr(f"unix_micros(ts) div {_SN_DAY_US}").alias("day"),
        "value",
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.sum(F.col("value").cast("decimal(20,6)")).alias("actual")
    )
    prev = daily.select(
        "event_type",
        (F.col("day") + _SN_LAG).alias("day"),
        F.col("actual").alias("forecast"),
    )
    joined = daily.join(prev, ["event_type", "day"])
    per_type = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.abs(F.col("actual") - F.col("forecast"))).alias(
            "abs_err"
        ),
        F.sum(F.col("actual") - F.col("forecast")).alias("err"),
    )
    days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        per_type.join(days, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_eval",
            round_div(F.col("abs_err"), F.col("n_eval")).alias("mae"),
            round_div(F.col("err"), F.col("n_eval")).alias("bias"),
        )
        .orderBy("event_type")
    )
