"""Event-time operators over `events` — the batch-equivalent shapes of
the streaming module (tumbling windows, sessionization). The streaming
variants (watermarks, applyInPandasWithState) live in streaming/ and are
pytest-verified; these batch forms carry the DuckDB oracle.

- ``incremental_sessionization`` — the batch-boundary problem every
  incremental pipeline hits: sessionizing each batch independently
  breaks the sessions that SPAN the boundary. Sessionize batch A and
  batch B separately (the steady-state per-batch work), then stitch:
  per user, A's last session merges with B's first iff the boundary
  gap <= the session gap — and ONLY that pair can merge, because
  within-batch sessionization already separated everything else by
  more than the gap (the algebra is exact, not heuristic). The
  oracle is the monolithic full-data sessionization: hash equality
  proves the incremental path reconstructs it exactly.
- ``decayed_event_frequency`` — trending detection with EXACT
  exponential time decay: per-type decayed counts Σ 2^(-age_days),
  computed entirely in integers by the common-denominator trick
  (Σ 2^(cap - min(age, cap)) over 2^cap, ages capped at 30 days —
  beyond the cap a contribution is < 1e-9 of a fresh event and the
  cap is what makes the numerator BIGINT-exact). The day bucket is
  epoch_us div 86400000000 (integer truncation on both engines) — a pure integer, so no compared byte depends
  on session timezone; the reference day is the
  corpus max, derived engine-side (1-row aggregate cross join, no
  driver collect).
- ``prefix_sum_adaptive_switch`` — the registered witness for the
  serial-vs-two-phase crossover in functions/prefix.py
  (``adaptive_prefix_sum``): a running total over a model-sized
  rollup should NOT pay two-phase's localCheckpoint + totals job +
  offset join, and a running total over data-sized input must not
  ride a single-partition window. The switch rule (n <= 2000 →
  serial) is derived INDEPENDENTLY by both engines — the oracle
  computes the same CASE over COUNT(*) — and the compared bytes
  carry the chosen mode per leg AND the running totals, so the hash
  pins (a) the rule itself and (b) that both branches produce
  bit-identical sums (decimal accumulation in every phase). The
  fixture makes the switch non-vacuous at every gated SF: the
  rollup leg (150 type-day rows) is always serial, while the raw
  leg crosses the threshold between sf0.001 (1000 rows, serial) and
  sf0.01/0.1 (10k/100k rows, two-phase) — the sf0.001 test oracle and
  the sf0.01 driver oracle together exercise BOTH branches on the
  same leg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    round_sum,
    sql_round_div,
    sql_round_sum,
    t,
)

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds


@register(
    "event_hourly_windows",
    f"""
    SELECT event_type,
           epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_start_us,
           COUNT(*) AS n_events,
           {sql_round_sum('value', 6, 4)} AS total_value
    FROM events GROUP BY 1, 2
    """,
    bench=True,
    doc="tumbling event-time window (batch form of the streaming windowed "
    "agg): 1h buckets per event_type. Bucket start emitted as epoch micros "
    "— render-independent compared bytes.",
)
def event_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_start_us"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        round_sum(F.col("value"), 6, 4).alias("total_value"),
    )


@register(
    "event_sliding_windows",
    f"""
    WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    exploded AS (
      SELECT event_type, value,
             UNNEST([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
             ts
      FROM ev
    )
    SELECT epoch_us(window_start) AS window_start_us,
           epoch_us(window_start + INTERVAL 2 HOUR) AS window_end_us,
           event_type, COUNT(*) AS n_events,
           {sql_round_sum('value', 6, 4)} AS total_value
    FROM exploded
    WHERE ts >= window_start AND ts < window_start + INTERVAL 2 HOUR
    GROUP BY 1, 2, 3
    """,
    doc="sliding event-time windows (2h size, 1h slide): each event lands "
    "in two overlapping buckets — Spark's window() generator vs an "
    "explicit UNNEST-over-offsets oracle. Bounds emitted as epoch micros "
    "— render-independent compared bytes.",
)
def event_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_sum(F.col("value"), 6, 4).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.unix_micros(F.col("w.end")).alias("window_end_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "sessionization",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             -- CAST: DuckDB types windowed SUM(INTEGER) as HUGEINT, which
             -- its pandas path (.df(), the driver's canonicalizer input)
             -- converts to float64 (1.0) while Spark supplies int64 (1) —
             -- the round-1..3 driver-hash mismatch on this query.
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us
    FROM sessions GROUP BY 1, 2
    """,
    bench=True,
    doc="gap-based sessionization (30 min) via lag + running sum — the "
    "batch twin of the stateful streaming session operator. Session "
    "bounds are emitted as epoch-microsecond longs so the compared bytes "
    "cannot depend on the harness's timestamp rendering (session/process "
    "timezone, Arrow collection path, parquet nanos reader mode) — the "
    "round-1 driver hash mismatch was exactly such an environment "
    "sensitivity on raw-precision MIN/MAX timestamps.",
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    flagged = ev.withColumn(
        "is_new",
        F.when(
            prev_us.isNull() | ((us - prev_us) > _SESSION_GAP_US), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(running))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.unix_micros(F.max("ts")).alias("session_end_us"),
    )


@register(
    "session_window_native",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS window_start_us,
           epoch_us(MAX(ts)) + {_SESSION_GAP_US} AS window_end_us
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Spark's NATIVE session_window operator (the one the streaming "
    "engine uses with state-store-backed merging) verified against the "
    "relational lag+running-sum construction in DuckDB: same 30-min "
    "gap, window end = last event + gap by definition. The two "
    "sessionization paths (native generator vs window functions) "
    "produce byte-identical session sets — the operator-equivalence "
    "evidence for the streaming path.",
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.unix_micros(F.col("w.end")).alias("window_end_us"),
        )
    )


@register(
    "retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE)
               AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
               AS activity_week
      FROM events
    )
    SELECT cohort_week, activity_week, COUNT(*) AS n_users
    FROM firsts JOIN activity USING (user_id)
    GROUP BY cohort_week, activity_week
    ORDER BY cohort_week, activity_week
    """,
    doc="weekly retention cohorts: users bucketed by first-seen week, "
    "counted in every week they return. Two aggregations + one join on "
    "user_id — at 100 TB the firsts table is users-sized (partial "
    "min pushed map-side) and the join co-partitions on user_id; no "
    "shuffle ever carries raw events twice.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.scalars import week_start  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        week_start(F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", week_start(F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "activity_week")
    )


_FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # 24 h


@register(
    "event_funnel_signup_purchase",
    f"""
    WITH s AS (
      SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_signup_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT COUNT(*) AS n_signup_users,
           COUNT(first_purchase_us) AS n_converted,
           COUNT(CASE WHEN first_purchase_us - first_signup_us
                           <= {_FUNNEL_WINDOW_US} THEN 1 END)
             AS n_converted_24h
    FROM (
      SELECT s.user_id, s.first_signup_us,
             MIN(p.ts_us) AS first_purchase_us
      FROM s LEFT JOIN p
        ON s.user_id = p.user_id AND p.ts_us >= s.first_signup_us
      GROUP BY s.user_id, s.first_signup_us
    )
    """,
    doc="ordered two-step funnel (signup -> purchase): per user, first "
    "signup then earliest purchase AT OR AFTER it; conversion counted "
    "overall and within 24 h. The ordered-sequence condition is a "
    "min-over-conditional-join — per-user event counts are small, so "
    "the join fan-out is bounded; epoch-us arithmetic keeps compared "
    "bytes render-independent.",
)
def event_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("first_signup_us"))
        .alias("s")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("ts_us"))
        .alias("p")
    )
    per_user = (
        s.join(
            p,
            (F.col("s.user_id") == F.col("p.user_id"))
            & (F.col("p.ts_us") >= F.col("s.first_signup_us")),
            "left",
        )
        .groupBy(F.col("s.user_id"), "first_signup_us")
        .agg(F.min("ts_us").alias("first_purchase_us"))
    )
    converted_24h = F.col("first_purchase_us") - F.col("first_signup_us") <= (
        F.lit(_FUNNEL_WINDOW_US)
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_signup_users"),
        F.count("first_purchase_us").alias("n_converted"),
        F.count(F.when(converted_24h, 1)).alias("n_converted_24h"),
    )


@register(
    "event_type_transition_matrix",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), counts AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           {sql_round_div("CAST(n AS DOUBLE)",
                          "SUM(n) OVER (PARTITION BY from_type)")} AS p
    FROM counts
    """,
    doc="first-order Markov transition matrix over per-user event "
    "sequences: LEAD pairs each event with its successor (one window "
    "on user_id), counts aggregate per (from, to), and row-normalized "
    "probabilities come from a partition-total window — the user-"
    "behavior model behind next-action prediction and anomaly scoring. "
    "Transition cardinality is |types|^2 (tiny), so everything after "
    "the LEAD window is map-side; probabilities are one IEEE division "
    "of identical integers.",
)
def event_type_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(W.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n",
        round_div(F.col("n").cast("double"), total).alias("p"),
    )


_FUNNEL_STEPS = ["signup", "click", "purchase"]


def multi_step_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Generic ordered k-step funnel: per user, the earliest strictly-
    increasing completion time of each step. Returns one row per
    (stage, step) with the user count reaching it.

    Shape: k-1 user-keyed join+min stages — each narrows to users who
    completed the previous step, so the frames only shrink; every join
    is on the funnel's natural key (user) and each stage is a
    partial+final MIN aggregate. Strictly-after semantics (ties on the
    same microsecond don't advance the funnel)."""
    us = F.unix_micros(F.col(ts_col))
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(us).alias("t0"))
    )
    counts = [cur.agg(F.count(F.lit(1)).alias("n_users"))]
    for i, step in enumerate(steps[1:], 1):
        nxt = events.filter(F.col(type_col) == step).select(
            user_col, us.alias("_u")
        )
        cur = (
            cur.join(nxt, user_col)
            .filter(F.col("_u") > F.col(f"t{i - 1}"))
            .groupBy(user_col, *[f"t{j}" for j in range(i)])
            .agg(F.min("_u").alias(f"t{i}"))
        )
        counts.append(cur.agg(F.count(F.lit(1)).alias("n_users")))
    out = None
    for i, (step, c) in enumerate(zip(steps, counts)):
        row = c.select(
            F.lit(i).alias("stage"),
            F.lit(step).alias("step"),
            "n_users",
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "funnel_multi_step",
    f"""
    WITH s0 AS (
      SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0
      FROM events WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1
    ), s1 AS (
      SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t1
      FROM events e JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = '{_FUNNEL_STEPS[1]}'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s0.t0
      GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = '{_FUNNEL_STEPS[2]}'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s1.t1
      GROUP BY 1
    )
    SELECT 0 AS stage, '{_FUNNEL_STEPS[0]}' AS step,
           COUNT(*) AS n_users FROM s0
    UNION ALL SELECT 1, '{_FUNNEL_STEPS[1]}', COUNT(*) FROM s1
    UNION ALL SELECT 2, '{_FUNNEL_STEPS[2]}', COUNT(*) FROM s2
    """,
    doc="generic ordered k-step funnel (here signup -> click -> "
    "purchase): per user the earliest strictly-increasing completion "
    "chain, reported as users-reaching-stage counts. Generalizes the "
    "2-step event_funnel_signup_purchase: k-1 user-keyed join+MIN "
    "stages over monotonically shrinking frames — at 100 TB each "
    "stage is a broadcast-able survivor set joined against one "
    "filtered event scan.",
)
def funnel_multi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return multi_step_funnel(ev, _FUNNEL_STEPS)


@register(
    "dow_hour_seasonality",
    f"""
    SELECT EXTRACT(isodow FROM CAST(ts AS TIMESTAMP)) AS dow,
           EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS hour,
           COUNT(*) AS n_events,
           {sql_round_sum('value', 6, 4)} AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="day-of-week x hour-of-day seasonality grid (the load/activity "
    "heatmap behind capacity planning and anomaly baselines). "
    "Calendar extraction note: Spark's dayofweek() is Sunday=1 while "
    "DuckDB's dayofweek() is Sunday=0 — both sides use ISO numbering "
    "(Monday=1, via weekday()+1 in Spark and isodow in DuckDB) so the "
    "grid keys agree. One hash aggregate over a 7x24-bounded key "
    "domain; all extraction in UTC.",
)
def dow_hour_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        round_sum(F.col("value"), 6, 4).alias("total_value"),
    )


@register(
    "cohort_ltv_curve",
    f"""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE)
               AS cohort_week
      FROM events GROUP BY user_id
    ), aged AS (
      SELECT f.cohort_week,
             CAST((CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE)
                   - f.cohort_week) / 7 AS BIGINT) AS age_weeks,
             e.value
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ), weekly AS (
      SELECT cohort_week, age_weeks,
             SUM(CAST(value AS DECIMAL(20,6))) AS v
      FROM aged GROUP BY 1, 2
    )
    SELECT cohort_week, age_weeks,
           CAST(ROUND(SUM(v) OVER (PARTITION BY cohort_week
                                   ORDER BY age_weeks
                                   ROWS UNBOUNDED PRECEDING), 4) AS DOUBLE)
             AS cum_value
    FROM weekly
    """,
    doc="cohort LTV curve: per signup-cohort week, cumulative value by "
    "cohort age — the growth metric retention_cohorts' user counts "
    "feed into. Value sums stay exact decimals through BOTH the "
    "weekly aggregate and the running cumulative frame, so the curve "
    "hash-checks bit-for-bit; age arithmetic is integer date math. "
    "One join on user (first-touch broadcast), one aggregate, one "
    "cohort-partitioned window.",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.scalars import week_start  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        week_start(F.min("ts")).alias("cohort_week")
    )
    aged = ev.join(F.broadcast(firsts), "user_id").select(
        "cohort_week",
        (
            F.datediff(week_start(F.col("ts")), F.col("cohort_week")) / 7
        )
        .cast("bigint")
        .alias("age_weeks"),
        "value",
    )
    weekly = aged.groupBy("cohort_week", "age_weeks").agg(
        F.sum(F.col("value").cast("decimal(20,6)")).alias("v")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return weekly.select(
        "cohort_week",
        "age_weeks",
        F.round(F.sum("v").over(w), 4).cast("double").alias("cum_value"),
    )


_DEBOUNCE_US = 5 * 60 * 1_000_000  # 5-minute cooldown


@register(
    "debounce_dedup_events",
    f"""
    WITH seq AS (
      SELECT user_id, event_type, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_type, event_id, t_us,
             CASE WHEN lag(t_us) OVER (PARTITION BY user_id, event_type
                                       ORDER BY t_us, event_id) IS NULL
                    OR t_us - lag(t_us) OVER (PARTITION BY user_id, event_type
                                              ORDER BY t_us, event_id)
                       > {_DEBOUNCE_US}
                  THEN 1 ELSE 0 END AS keep
      FROM seq
    )
    SELECT user_id, event_type, event_id, t_us
    FROM flagged WHERE keep = 1
    """,
    doc="telemetry debounce: an event survives iff the gap to its "
    "(user, event_type) predecessor exceeds a 5-minute cooldown — "
    "the lag-gap formulation of alert/click-spam suppression "
    "(relational, deterministic; note this is gap-to-predecessor, "
    "not gap-to-last-kept, which would need a sessionization-style "
    "running reset). One window per key; the streaming twin is "
    "dropDuplicatesWithinWatermark with a keyed TTL. Epoch-micro "
    "outputs keep the compared bytes render-independent.",
)
def debounce_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        t_us, "event_id"
    )
    prev = F.lag(t_us).over(w)
    return (
        ev.select(
            "user_id",
            "event_type",
            "event_id",
            t_us.alias("t_us"),
            F.when(
                prev.isNull() | ((t_us - prev) > _DEBOUNCE_US), 1
            )
            .otherwise(0)
            .alias("keep"),
        )
        .filter(F.col("keep") == 1)
        .drop("keep")
    )


@register(
    "cogroup_signup_purchase_counts",
    """
    SELECT e.user_id, e.event_id,
           epoch_us(CAST(e.ts AS TIMESTAMP)) AS p_us,
           CAST((SELECT COUNT(*) FROM events s
                 WHERE s.event_type = 'signup'
                   AND s.user_id = e.user_id
                   AND s.ts <= e.ts) AS BIGINT) AS n_signups_before
    FROM events e
    WHERE e.event_type = 'purchase'
    """,
    doc="cogrouped applyInPandas (the two-sided Arrow-batched custom "
    "operator surface): per user, the purchases cogroup meets the "
    "signups cogroup in ONE pandas function that counts, for every "
    "purchase, the signups at or before it (vectorized searchsorted "
    "over the sorted signup times — the merge-asof kernel). The "
    "oracle is the correlated COUNT subquery. This is the surface "
    "for per-key logic that genuinely needs BOTH sides as local "
    "arrays (asof matching, interval algebra, per-entity model "
    "scoring against history); both inputs shuffle once on the "
    "cogroup key and batches stream through Arrow, so state per task "
    "is one user's rows, never a partition. Relational twins remain "
    "the default where they exist (operators/asof.py) — this query "
    "pins that the escape hatch computes exactly what SQL computes.",
)
def cogroup_signup_purchase_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("p_us"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.unix_micros(F.col("ts")).alias("s_us")
    )

    def count_before(left, right):
        import numpy as np
        import pandas as pd

        if left.empty:
            return pd.DataFrame(
                columns=["user_id", "event_id", "p_us", "n_signups_before"]
            )
        s = np.sort(right["s_us"].to_numpy()) if not right.empty else np.array(
            [], dtype="int64"
        )
        n = np.searchsorted(s, left["p_us"].to_numpy(), side="right")
        return pd.DataFrame(
            {
                "user_id": left["user_id"],
                "event_id": left["event_id"],
                "p_us": left["p_us"],
                "n_signups_before": n.astype("int64"),
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(signups.groupBy("user_id"))
        .applyInPandas(
            count_before,
            "user_id bigint, event_id bigint, p_us bigint, "
            "n_signups_before bigint",
        )
    )


@register(
    "event_sequence_pattern_match",
    """
    WITH coded AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'signup' THEN 'S'
                             WHEN 'purchase' THEN 'P'
                             WHEN 'click' THEN 'C'
                             WHEN 'view' THEN 'V'
                             ELSE 'E' END AS ch
      FROM events
    ),
    seqs AS (
      SELECT user_id,
             string_agg(ch, '' ORDER BY ts, event_id) AS seq
      FROM coded GROUP BY user_id
    )
    SELECT user_id, seq,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'S[CV]*P')) AS BIGINT)
             AS n_clean_conversions,
           regexp_matches(seq, 'S[^P]*E[^P]*P') AS error_in_funnel
    FROM seqs
    """,
    doc="sequence-pattern matching over per-user event strings (the "
    "MATCH_RECOGNIZE shape, relationally): event types encode to "
    "single characters, each user's history becomes one ordered "
    "string (deterministic (ts, event_id) order), and funnels become "
    "REGEXES — 'S[CV]*P' counts signup→purchase runs interrupted only "
    "by engagement, 'S[^P]*E[^P]*P' flags an error inside an open "
    "funnel. Patterns stay in the RE2∩Java common subset; both "
    "engines scan non-overlapping matches left-to-right, so counts "
    "agree. Per-user strings are bounded by per-user event counts — "
    "the same per-key locality every window operator here relies on; "
    "one shuffle on user_id, then map-only regex. The relational "
    "funnel operators (funnel_multi_step) remain the composable "
    "form; this is the expressiveness witness for arbitrary ordered "
    "patterns (retry storms, abandoned carts, bot loops).",
)
def event_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    coded = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "signup", "S")
        .when(F.col("event_type") == "purchase", "P")
        .when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "view", "V")
        .otherwise("E")
        .alias("ch"),
    )
    seqs = (
        coded.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts_us", "event_id", "ch"))
                    ),
                    lambda x: x["ch"],
                ),
                "",
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        "seq",
        F.length("seq").cast("long").alias("seq_len"),
        F.regexp_count(F.col("seq"), F.lit(r"S[CV]*P"))
        .cast("long")
        .alias("n_clean_conversions"),
        F.col("seq").rlike(r"S[^P]*E[^P]*P").alias("error_in_funnel"),
    )


@register(
    "peak_concurrency_sweep",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                       > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, session_id,
             MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS start_us,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS end_us
      FROM (
        SELECT user_id, ts, event_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS BIGINT) AS session_id
        FROM flagged
      )
      GROUP BY user_id, session_id
    ),
    deltas AS (
      SELECT start_us AS t, 1 AS delta,
             user_id * 1000000 + session_id AS skey
      FROM sessions
      UNION ALL
      SELECT end_us + 1 AS t, -1 AS delta,
             user_id * 1000000 + session_id AS skey
      FROM sessions
    ),
    swept AS (
      SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta DESC, skey)
                     AS BIGINT) AS concurrency
      FROM deltas
    )
    SELECT CAST(t // 86400000000 AS BIGINT) AS day_num,
           CAST(MAX(concurrency) AS BIGINT) AS peak_concurrent,
           COUNT(*) AS n_boundary_events
    FROM swept
    GROUP BY 1
    """,
    doc="sweep-line peak concurrency: 30-min-gap sessions (the "
    "sessionization construction, driver-green) reduce to ±1 boundary "
    "deltas; an ordered running sum over the boundary stream is the "
    "live-session count, and its per-day max is the capacity metric "
    "(peak simultaneous sessions — what you provision for). The "
    "running sum rides an explicit total order (t, delta DESC, skey) "
    "so both engines sweep identically, and the windowed "
    "SUM(integer) is CAST BIGINT on the oracle side (the DuckDB "
    "HUGEINT rule). Scale shape: the swept stream is 2 rows per "
    "SESSION (orders of magnitude below raw events), and the global "
    "running sum EXECUTES as the two-phase prefix sum "
    "(functions/prefix.py::partitioned_prefix_sum, wired round 12 "
    "per VERDICT r11 item 2): per-range local cumsums in parallel + "
    "O(ranges) carry-in offsets — no single-partition window "
    "anywhere in the plan, so the sweep survives boundary streams "
    "that outgrow one task. Decimal accumulation keeps it "
    "bit-identical to the oracle's serial window.",
)
def peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    flagged = ev.withColumn(
        "is_new",
        F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0),
    )
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    sessions = (
        flagged.withColumn("session_id", F.sum("is_new").over(running))
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("start_us"),
            F.max(F.unix_micros(F.col("ts"))).alias("end_us"),
        )
    )
    skey = (F.col("user_id") * 1_000_000 + F.col("session_id")).alias("skey")
    deltas = sessions.select(
        F.col("start_us").alias("t"), F.lit(1).alias("delta"), skey
    ).unionByName(
        sessions.select(
            (F.col("end_us") + 1).alias("t"), F.lit(-1).alias("delta"), skey
        )
    )
    # the global running sum routes through the two-phase prefix sum
    # (functions/prefix.py) instead of a single-partition window: the
    # total order (t, delta DESC, skey) is encoded ascending as
    # (t, -delta, skey), per-range local cumsums run in parallel, and
    # only the per-range totals (bounded by the range count, never
    # rows) hit the driver. Decimal accumulation makes the result
    # bit-identical to the oracle's serial window — pinned by the
    # prefix_sum_two_phase oracle row and tests/test_prefix_sum.py.
    from market_pulse_data_pipeline_spark.functions.prefix import (  # noqa: PLC0415
        partitioned_prefix_sum,
    )

    ordered = deltas.withColumn("neg_delta", -F.col("delta"))
    swept = partitioned_prefix_sum(
        ordered,
        ["t", "neg_delta", "skey"],
        F.col("delta"),
        out_col="concurrency_dec",
        n_ranges=8,
        scale=0,
    ).select(
        "t", F.col("concurrency_dec").cast("long").alias("concurrency")
    )
    return swept.select(
        F.expr("t DIV 86400000000").cast("long").alias("day_num"),
        "concurrency",
    ).groupBy("day_num").agg(
        F.max("concurrency").cast("long").alias("peak_concurrent"),
        F.count(F.lit(1)).alias("n_boundary_events"),
    )


@register(
    "watermark_delay_estimate",
    """
    WITH arr AS (
      SELECT event_type, ts,
             md5(concat('arr:', CAST(event_id AS VARCHAR))) AS akey
      FROM events
    ),
    lateness AS (
      SELECT event_type,
             GREATEST(0, epoch_us(CAST(high_ts AS TIMESTAMP))
                         - epoch_us(CAST(ts AS TIMESTAMP))) AS late_us
      FROM (
        SELECT event_type, ts,
               MAX(ts) OVER (PARTITION BY event_type ORDER BY akey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS high_ts
        FROM arr
      )
      WHERE high_ts IS NOT NULL
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           MAX(late_us) AS max_late_us,
           quantile_cont(late_us, 0.95) AS p95_late_us
    FROM lateness GROUP BY event_type
    """,
    doc="watermark-delay estimation — the measurement that SIZES "
    "withWatermark(): replay the stream in a deterministic "
    "pseudo-arrival order (md5 of the event id — the multi-source "
    "collector's interleaving, RNG-free so both engines see the same "
    "arrival sequence), track the running event-time high-water mark, "
    "and measure each event's lateness against it. max / exact-p95 "
    "lateness per stream are exactly the numbers that choose the "
    "watermark delay (p95 keeps 95% of late data at p95 cost; max is "
    "loss-free). One window pass over the arrival order + one "
    "aggregate; the high-water-mark window is the batch twin of the "
    "state the streaming engine keeps per partition. Frame excludes "
    "the current row, so a new high-water event has lateness 0 by "
    "construction (oracle and Spark agree on the NULL-first-row "
    "drop).",
)
def watermark_delay_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    arr = ev.select(
        "event_type",
        "ts",
        F.md5(
            F.concat(F.lit("arr:"), F.col("event_id").cast("string")).cast(
                "binary"
            )
        ).alias("akey"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("akey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lateness = (
        arr.withColumn("high_ts", F.max("ts").over(w))
        .filter(F.col("high_ts").isNotNull())
        .select(
            "event_type",
            F.greatest(
                F.lit(0),
                F.unix_micros(F.col("high_ts")) - F.unix_micros(F.col("ts")),
            ).alias("late_us"),
        )
    )
    return lateness.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("late_us") > 0).cast("int")).cast("long").alias("n_late"),
        F.max("late_us").alias("max_late_us"),
        F.expr("percentile(late_us, 0.95)").alias("p95_late_us"),
    )


@register(
    "prefix_sum_two_phase",
    """
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6)))
                OVER (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                AS DOUBLE) AS running_total
    FROM events
    """,
    doc="two-phase distributed prefix sum (functions/prefix.py): the "
    "global cumulative value curve ordered by (ts, event_id), "
    "computed WITHOUT the single-partition window Spark would plan "
    "for SUM OVER (ORDER BY ...) — range-partition on the order key, "
    "parallel per-partition local cumsums, collect only the "
    "per-partition totals (bounded by partition count), broadcast "
    "the exclusive carry-in offsets back. Decimal accumulation in "
    "every phase makes the result bit-identical to the oracle's "
    "single serial window — the hash match IS the two-phase "
    "correctness proof. This is the scale fix the sweep-line and "
    "cumulative-metric family names: at 100 TB the serial form is a "
    "one-task bottleneck; this form is two parallel passes plus an "
    "O(partitions) driver step.",
)
def prefix_sum_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.prefix import (  # noqa: PLC0415
        partitioned_prefix_sum,
    )

    ev = t(spark, sf_dir, "events")
    out = partitioned_prefix_sum(
        ev, ["ts", "event_id"], F.col("value"), n_ranges=8, scale=6
    )
    return out.select(
        "event_id", F.col("running_total").cast("double").alias("running_total")
    )


@register(
    "interval_merge_maximal",
    """
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT)
               AS e_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s_us, e_us,
             CASE WHEN MAX(e_us) OVER (PARTITION BY user_id
                    ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                  OR s_us > MAX(e_us) OVER (PARTITION BY user_id
                    ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_new
      FROM iv
    ),
    islands AS (
      SELECT user_id, island,
             MIN(s_us) AS start_us, MAX(e_us) AS end_us,
             COUNT(*) AS n_events
      FROM (
        SELECT user_id, s_us, e_us,
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                    ORDER BY s_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        FROM flagged
      )
      GROUP BY user_id, island
    )
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(end_us - start_us) AS BIGINT) AS covered_us,
           MAX(end_us - start_us) AS max_interval_us,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM islands
    GROUP BY user_id
    """,
    doc="maximal-interval merge (the overlapping-SPANS gaps-and-islands "
    "shape point-gap sessionization cannot express): each event opens "
    "an interval [ts, ts + value minutes] (duration derived through an "
    "exact decimal product, so both engines compute the identical "
    "BIGINT micros), and per user every chain of transitively "
    "overlapping intervals collapses to one maximal island — new "
    "island iff this start exceeds the running MAX of all previous "
    "ends (a plain running max handles the contained-interval case "
    "that comparing against only the PREVIOUS end gets wrong). Output "
    "is per-user island count, covered time, longest island, events "
    "absorbed. Scale shape: one shuffle on user_id shared by both "
    "window passes and the island aggregate; state per row is a "
    "single running max, and the windowed SUM / outer SUMs are CAST "
    "BIGINT on the oracle side (the DuckDB HUGEINT rule). This is "
    "the union-of-time-ranges primitive behind ad-session stitching, "
    "maintenance-window accounting, and coverage/SLA math.",
)
def interval_merge_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.operators.intervals import (  # noqa: PLC0415
        merge_maximal_intervals,
    )

    ev = t(spark, sf_dir, "events")
    s_us = F.unix_micros(F.col("ts"))
    dur = (F.col("value").cast("decimal(18,2)") * 60_000_000).cast("long")
    iv = ev.select(
        "user_id",
        "event_id",
        s_us.alias("s_us"),
        (s_us + dur).alias("e_us"),
    )
    islands = merge_maximal_intervals(
        iv, "user_id", "s_us", "e_us", "event_id"
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("end") - F.col("start")).alias("covered_us"),
        F.max(F.col("end") - F.col("start")).alias("max_interval_us"),
        F.sum("n_spans").alias("n_events"),
    )


_ATTR_LOOKBACK_MIN = 60  # attribution lookback, minutes


@register(
    "attribution_position_credit",
    f"""
    WITH conv AS (
      SELECT user_id, event_id AS conv_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id AS touch_id, CAST(ts AS TIMESTAMP) AS tts,
             event_type AS channel
      FROM events WHERE event_type IN ('click', 'view', 'signup')
    ),
    path AS (
      SELECT c.conv_id, t.channel,
             ROW_NUMBER() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY c.conv_id) AS k
      FROM conv c JOIN touch t
        ON c.user_id = t.user_id
       AND t.tts < c.cts
       AND t.tts >= c.cts - INTERVAL {_ATTR_LOOKBACK_MIN} MINUTE
      WINDOW w AS (PARTITION BY c.conv_id ORDER BY t.tts, t.touch_id)
    ),
    credited AS (
      SELECT channel,
             CASE WHEN k = 1 THEN 1000
                  WHEN k = 2 THEN 500
                  WHEN rn = 1 THEN 400
                  WHEN rn = k THEN 400
                  ELSE 200 // (k - 2)
                       + CASE WHEN rn = 2 THEN 200 % (k - 2) ELSE 0 END
             END AS credit
      FROM path
    )
    SELECT channel,
           COUNT(*) AS n_touches,
           CAST(SUM(credit) AS BIGINT) AS credit_milli
    FROM credited
    GROUP BY channel
    """,
    doc="U-shaped (position-based) multi-touch attribution — the "
    "credit-assignment readout the funnel/Markov family stops short "
    "of: every purchase's preceding click/view/signup touches within a "
    f"{_ATTR_LOOKBACK_MIN}-minute lookback form an ordered path; "
    "credit per conversion is 1000 EXACT milli-credits — 40%/40% to "
    "first/last touch, 20% split over the middles by integer "
    "division with the remainder pinned to the EARLIEST middle "
    "(1-touch paths take 1000, 2-touch split 500/500). Integer "
    "arithmetic end to end, so per-channel totals are exact and the "
    "sum-to-1000-per-conversion invariant is hashed into the "
    "result. Scale shape: the conv⟗touch join is per-user with a "
    "time-bound (the streaming interval-join shape run in batch), "
    "fan-out bounded by lookback; both windows share the conv_id "
    "partitioning; final rollup is 3 rows.",
)
def attribution_position_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("cts"),
    )
    touch = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    joined = conv.join(
        touch,
        (F.col("c_user") == F.col("t_user"))
        & (F.col("tts") < F.col("cts"))
        & (
            F.col("tts")
            >= F.col("cts") - F.expr(f"interval {_ATTR_LOOKBACK_MIN} minutes")
        ),
    )
    w = Window.partitionBy("conv_id").orderBy("tts", "touch_id")
    wk = Window.partitionBy("conv_id")
    path = joined.select(
        "channel",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, 1000)
        .when(F.col("k") == 2, 500)
        .when(F.col("rn") == 1, 400)
        .when(F.col("rn") == F.col("k"), 400)
        .otherwise(
            F.expr("200 DIV (k - 2)")
            + F.when(F.col("rn") == 2, F.expr("200 % (k - 2)")).otherwise(0)
        )
    )
    return (
        path.select("channel", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit").cast("long").alias("credit_milli"),
        )
    )


# this sessionizer's gap parameter: 12 h (gap is a per-pipeline knob —
# the registered 30-min `sessionization` models interactive sessions;
# the fixture's inter-event cadence is hours, so a 12 h gap yields the
# multi-event, boundary-SPANNING sessions the stitch must handle at
# every checked scale factor)
_IS_GAP_US = 12 * 3600 * 1_000_000


# --------------------------------------------------------------------
# incremental_sessionization
# --------------------------------------------------------------------


def _inc_sess_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {_IS_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_start_us
    """


@register(
    "incremental_sessionization",
    _inc_sess_oracle(),
    bench=True,
    doc="cross-batch session stitching — the boundary problem every "
    "incremental pipeline hits: sessionizing each arrival batch "
    "independently breaks the sessions that SPAN the batch boundary. "
    "The incremental path sessionizes batch A (ts below the midpoint "
    "split, the 'already processed' state) and batch B (the new "
    "arrivals) separately, then stitches: per user, A's LAST session "
    "merges with B's FIRST iff the boundary gap <= the session "
    "gap (12 h here — a pipeline knob) — and ONLY that pair can ever merge, because within-batch "
    "sessionization already separated every other adjacent pair by "
    "more than the gap, so the stitch algebra is EXACT, not a "
    "heuristic (same discipline as delta_join_view_maintenance). The "
    "oracle is the monolithic full-data sessionization: value-hash "
    "equality proves the incremental path reconstructs it byte-for-"
    "byte. Session bounds ride epoch-microsecond longs (the "
    "timestamp-rendering lesson). 100 TB shape: steady-state cost is "
    "sessionizing the NEW batch plus a per-user single-row state join "
    "(each user's last open session — the applyInPandasWithState "
    "shape in the streaming twin); the full history is never "
    "re-windowed.",
)
def incremental_sessionization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    us = F.unix_micros(F.col("ts"))
    # bounded collect: ONE row — the batch-boundary split point (the
    # midpoint timestamp plays 'end of the previous load')
    lo, hi = ev.agg(F.min(us), F.max(us)).first()
    split_us = (lo + hi) // 2

    # per-batch sessionization in ONE pass: every window is keyed
    # by (user_id, batch), so each batch is still sessionized strictly
    # independently — identical sessions to the former two separate
    # sessionize() branches (pinned byte-for-byte in
    # tests/test_events_queries.py and by the monolithic oracle) — but the
    # events are scanned, exchanged and windowed once instead of twice,
    # and the session table is materialized once for its four
    # consumers (last/first state rows + both keep anti-joins) instead
    # of re-running a window pipeline per consumer.
    tagged = ev.withColumn("batch", (us >= split_us).cast("int"))
    w = Window.partitionBy("user_id", "batch").orderBy("ts", "event_id")
    b_us = F.unix_micros(F.col("ts"))
    prev = F.lag(b_us).over(w)
    flagged = tagged.withColumn(
        "is_new",
        F.when(prev.isNull() | ((b_us - prev) > _IS_GAP_US), 1).otherwise(0),
    )
    w2 = (
        Window.partitionBy("user_id", "batch")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("sid", F.sum("is_new").over(w2))
    sessions = (
        sess.groupBy("user_id", "batch", "sid")
        .agg(
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.max(F.unix_micros("ts")).alias("session_end_us"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .localCheckpoint(eager=True)
    )
    sa = sessions.filter(F.col("batch") == 0).drop("batch", "sid")
    sb = sessions.filter(F.col("batch") == 1).drop("batch", "sid")
    # per-user boundary state: A's LAST session, B's FIRST session
    last_a = sa.groupBy("user_id").agg(
        F.max(
            F.struct("session_start_us", "session_end_us", "n_events")
        ).alias("s")
    )
    first_b = sb.groupBy("user_id").agg(
        F.min(
            F.struct("session_start_us", "session_end_us", "n_events")
        ).alias("s")
    )
    merged = (
        last_a.alias("a")
        .join(first_b.alias("b"), "user_id")
        .filter(
            F.col("b.s.session_start_us") - F.col("a.s.session_end_us")
            <= _IS_GAP_US
        )
        .select(
            "user_id",
            F.col("a.s.session_start_us").alias("session_start_us"),
            F.col("b.s.session_end_us").alias("session_end_us"),
            (F.col("a.s.n_events") + F.col("b.s.n_events")).alias(
                "n_events"
            ),
            F.col("a.s.session_start_us").alias("a_start"),
            F.col("b.s.session_start_us").alias("b_start"),
        )
    )
    drop_a = merged.select("user_id", F.col("a_start").alias("k"))
    drop_b = merged.select("user_id", F.col("b_start").alias("k"))
    keep_a = sa.join(
        F.broadcast(drop_a),
        (sa.user_id == drop_a.user_id)
        & (sa.session_start_us == drop_a.k),
        "left_anti",
    )
    keep_b = sb.join(
        F.broadcast(drop_b),
        (sb.user_id == drop_b.user_id)
        & (sb.session_start_us == drop_b.k),
        "left_anti",
    )
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
    return (
        keep_a.select(*cols)
        .unionByName(keep_b.select(*cols))
        .unionByName(merged.select(*cols))
        .orderBy("user_id", "session_start_us")
    )


# --------------------------------------------------------------------
# decayed_event_frequency
# --------------------------------------------------------------------

_DF_CAP = 30  # decay cap in days: 2^-30 < 1e-9 of a fresh event
_DF_DAY_US = 86_400_000_000


def _decay_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_DF_DAY_US} AS day
      FROM events
    ),
    ref AS (SELECT MAX(day) AS ref_day FROM ev),
    w AS (
      SELECT ev.event_type,
             (1::BIGINT << ({_DF_CAP} - LEAST(ref.ref_day - ev.day,
                                              {_DF_CAP}))) AS num
      FROM ev CROSS JOIN ref
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(num) AS BIGINT) AS decay_num,
           {sql_round_div('SUM(num)', f'(1::BIGINT << {_DF_CAP})')}
             AS decayed_count
    FROM w
    GROUP BY event_type
    ORDER BY event_type
    """


@register(
    "decayed_event_frequency",
    _decay_oracle(),
    doc="trending detection with EXACT exponential time decay: "
    "per-type decayed counts sum(2^-age_days) computed entirely in "
    "integers — each event contributes 2^(cap - min(age, cap)) to a "
    "BIGINT numerator over the common denominator 2^cap (cap=30 "
    "days; an older event's true weight is < 1e-9 of a fresh one, "
    "and the cap is what keeps the numerator exact instead of "
    "floating). ONE rounding at the very end through the shared "
    "decimal route, so engines cannot diverge on any tie. Day = "
    "epoch_us div 86400000000 (integer truncation on both engines), a pure integer — no compared byte depends "
    "on session timezone; the "
    "reference day is the corpus max, derived ENGINE-side as a 1-row "
    "aggregate cross join (no driver collect). 100 TB shape: one "
    "map-only weight projection + one hash aggregate with map-side "
    "combine; the decayed counter is the streaming-friendly "
    "alternative to windowed re-counts (state is one integer per "
    "key, merge = shift-and-add).",
)
def decayed_event_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        # integer `div`, not double-divide-then-cast: Spark div and
        # DuckDB's integer // both truncate toward zero, so the bucket
        # is identical for ALL inputs incl. pre-1970 timestamps, and no
        # compared byte rides double rounding
        F.expr(f"unix_micros(ts) div {_DF_DAY_US}").alias("day"),
    )
    ref = ev.agg(F.max("day").alias("ref_day"))
    w = ev.crossJoin(F.broadcast(ref)).select(
        "event_type",
        F.expr(
            f"shiftleft(1L, cast({_DF_CAP} - least(ref_day - day, "
            f"{_DF_CAP}) as int))"
        ).alias("num"),
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("num").cast("long").alias("decay_num"),
        )
        .select(
            "event_type",
            "n_events",
            "decay_num",
            round_div(
                F.col("decay_num"), F.lit(1 << _DF_CAP)
            ).alias("decayed_count"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# prefix_sum_adaptive_switch
# --------------------------------------------------------------------

_PS_DAY_US = 86_400_000_000


def _ps_oracle() -> str:
    from market_pulse_data_pipeline_spark.functions.prefix import (
        PREFIX_SERIAL_MAX_ROWS,
    )

    thr = PREFIX_SERIAL_MAX_ROWS
    return f"""
    WITH ev AS (
      SELECT event_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_PS_DAY_US} AS day
      FROM events
    ),
    a AS (
      SELECT event_type, day, COUNT(*) AS cnt
      FROM ev GROUP BY 1, 2
    ),
    an AS (SELECT COUNT(*) AS n FROM a),
    bn AS (SELECT COUNT(*) AS n FROM ev),
    aleg AS (
      SELECT 'daily_rollup' AS leg,
             event_type || '#' || CAST(day AS VARCHAR) AS ord_key,
             CAST(SUM(CAST(cnt AS DECIMAL(38,6)))
                    OVER (ORDER BY event_type, day
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running,
             (SELECT CASE WHEN n <= {thr} THEN 'serial'
                          ELSE 'two_phase' END FROM an) AS mode
      FROM a
    ),
    bleg AS (
      SELECT 'raw_events' AS leg,
             CAST(event_id AS VARCHAR) AS ord_key,
             CAST(SUM(CAST(value AS DECIMAL(38,6)))
                    OVER (ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running,
             (SELECT CASE WHEN n <= {thr} THEN 'serial'
                          ELSE 'two_phase' END FROM bn) AS mode
      FROM ev
    )
    SELECT * FROM aleg
    UNION ALL
    SELECT * FROM bleg
    ORDER BY leg, ord_key
    """


@register(
    "prefix_sum_adaptive_switch",
    _ps_oracle(),
    doc="the registered witness of functions/prefix.py's "
    "serial-vs-two-phase crossover (adaptive_prefix_sum): running "
    "totals over TWO legs — a model-sized rollup (one row per "
    "(event_type, day), 150 rows at every fixture SF) and the raw "
    "event stream — each routed by the size rule n <= "
    "PREFIX_SERIAL_MAX_ROWS. The oracle derives the SAME rule from "
    "COUNT(*), so the compared bytes pin (a) the rule itself (the "
    "mode column) and (b) branch equivalence: decimal accumulation "
    "in every phase makes serial and two-phase bit-identical, so "
    "whichever branch runs, the running totals hash-match the "
    "oracle's plain serial window. Non-vacuous by construction: the "
    "rollup leg is always serial (a 150-row global window is the "
    "sanctioned model-sized case — cheaper than two-phase's "
    "localCheckpoint + totals job + offset join), while the raw leg "
    "crosses the threshold between sf0.001 (serial) and sf0.01/0.1 "
    "(two-phase) — the sf0.001 and sf0.01 oracle checks together "
    "exercise BOTH branches of the switch on the same leg. 100 TB "
    "shape: the raw leg is the two-phase path (range partition + "
    "local cumsums + O(partitions) offsets); the size probe is one "
    "count() — at warehouse scale table statistics replace it.",
)
def prefix_sum_adaptive_switch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return prefix_sum_adaptive_switch_from(
        t(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "value",
            F.expr(f"unix_micros(ts) div {_PS_DAY_US}").alias("day"),
        )
    )


def prefix_sum_adaptive_switch_from(ev: DataFrame) -> DataFrame:
    """Both adaptive legs over an (event_id, event_type, value, day)
    frame — shared with tools/stress_check.py's ``adaptive_prefix``
    stage so the stress row always measures the shipping shape."""
    from market_pulse_data_pipeline_spark.functions.prefix import (
        adaptive_prefix_sum,
    )

    a = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a_run, a_mode = adaptive_prefix_sum(
        a, ["event_type", "day"], F.col("cnt")
    )
    leg_a = a_run.select(
        F.lit("daily_rollup").alias("leg"),
        F.concat(
            F.col("event_type"), F.lit("#"), F.col("day").cast("string")
        ).alias("ord_key"),
        F.col("running_total").cast("double").alias("running"),
        F.lit(a_mode).alias("mode"),
    )
    b_run, b_mode = adaptive_prefix_sum(ev, ["event_id"], F.col("value"))
    leg_b = b_run.select(
        F.lit("raw_events").alias("leg"),
        F.col("event_id").cast("string").alias("ord_key"),
        F.col("running_total").cast("double").alias("running"),
        F.lit(b_mode).alias("mode"),
    )
    return leg_a.unionByName(leg_b).orderBy("leg", "ord_key")
