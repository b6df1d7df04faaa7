"""Streaming ingest as a driver-contract query (hash-checked).

The batch/stream equivalence of ``streaming/ingest.py`` was previously
pytest-only; this registers the evidence in the correctness gate: the
query runs the REAL Structured Streaming pipeline — file-source
``readStream`` over a fixture landing zone → ``foreachBatch`` keyed
upsert into bronze (the reference's J2 MERGE semantics,
minio_to_snowflake.py:66-75) — twice on one checkpoint:

  batch 1: the 10-symbol fixture corpus (45 days each);
  batch 2: fresher 50-day documents for three symbols, landed as NEW
           files (the file source tracks processed paths — exactly-once
           per file, so only the delta is read on the second run).

After the second ``availableNow`` run, bronze must hold the batch-2
documents for the refreshed symbols and the batch-1 documents for the
rest — last-write-wins per symbol across micro-batches. The DuckDB
oracle derives that exact state relationally from the same landing
files (rank per symbol by "3. Last Refreshed"), so the hash check
covers the streaming source, checkpointed progress, the upsert sink,
and symbol normalization (BRK.B lands as BRK-B, §2.7-a) end-to-end.

Stateful recovery witnesses: checkpoint recovery of STATEFUL
streaming state, not just the file-source offset replay that
``streaming_ingest_upsert`` witnesses. They cover the two distinct
recovery paths Structured Streaming guarantees (both modeled on
the two-run-one-checkpoint pattern above, both hash-proved equal to
the uninterrupted batch semantics):

- ``streaming_dedup_state_recovery`` — CLEAN STOP + RESTART of the
  dedup state store: a ``dropDuplicatesWithinWatermark`` query runs to
  completion over the first half of a ts-ranged file feed (availableNow
  — the stream believes it has caught up and shuts down, exactly the
  planned-maintenance restart), the second half lands, and a NEW query
  object resumes on the SAME checkpoint + file sink. Keys first seen
  in run 1 reappear throughout run 2 (ts-ranged halves share most
  (user_id, event_type) keys); they are suppressed IFF the dedup state
  store was reloaded from the checkpoint — lost state would re-emit
  them, the sink would hold duplicate key rows, and the multiplicity
  (and hash) would diverge from the batch DISTINCT oracle. The sink is
  read back WITHOUT a distinct: row multiplicity IS the witness.
- ``streaming_stateful_crash_recovery`` — MID-STREAM CRASH + WAL
  replay of custom ``applyInPandasWithState`` GroupState
  (streaming/stateful.py:running_user_stats): the foreachBatch sink
  deterministically raises on micro-batch 2 BEFORE writing, killing
  run 1 with that batch's offsets written to the WAL but neither its
  sink output nor its state delta committed. The restarted query must
  replay batch 2 from the WAL against the batch-1 state snapshot and
  continue through the remaining files; per-user running counts are
  correct after recovery IFF the state store recovered exactly (lost
  state restarts counts from zero mid-feed; a replayed-but-committed
  batch would double-count). The final per-user max(n_events) across
  all captured update rows must equal the batch GROUP BY COUNT(*).
  Only order-insensitive integer accumulators are compared (count,
  max-ts) — the same discipline as streaming_stateful_user_stats.

Recovery is the property that makes stateful streaming operable at
100 TB: at scale every long-running query WILL be stopped (deploys)
and WILL crash (spot loss); state reload from the checkpoint — not
reprocessing history — is what bounds recovery time.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    SCRATCH_ROOT,
    register,
    scratch,
    t,
)

_STREAM_ROOT = os.path.join(SCRATCH_ROOT, "stream_oracle")

_REFRESHED = ("AAPL", "MSFT", "BRK.B")  # keys; docs carry normalized symbols
_BATCH1_DAYS = 45
_BATCH2_DAYS = 50
_BATCH2_END = "2025-10-17"  # Friday; lexicographically fresher Last Refreshed


@register(
    "streaming_ingest_upsert",
    f"""
    WITH docs AS (
      SELECT ("Meta Data"['2. Symbol'])[1] AS symbol0,
             ("Meta Data"['3. Last Refreshed'])[1] AS refreshed,
             "Time Series (Daily)" AS series
      FROM read_json('{_STREAM_ROOT}/landing/*.json',
                     columns={{'Meta Data': 'MAP(VARCHAR, VARCHAR)',
                              'Time Series (Daily)':
                                'MAP(VARCHAR, MAP(VARCHAR, VARCHAR))'}})
      WHERE "Time Series (Daily)" IS NOT NULL
    ), ranked AS (
      SELECT symbol0, series,
             row_number() OVER (PARTITION BY symbol0
                                ORDER BY refreshed DESC) AS rn
      FROM docs
    ), latest AS (
      SELECT CASE WHEN symbol0 = 'BRK.B' THEN 'BRK-B' ELSE symbol0 END
               AS symbol,
             series
      FROM ranked WHERE rn = 1
    )
    SELECT symbol,
           COUNT(*) AS n_days,
           MIN(CAST(e.key AS DATE)) AS first_date,
           MAX(CAST(e.key AS DATE)) AS last_date,
           CAST(SUM(CAST(e.value['4. close'][1] AS DECIMAL(20,6)))
                AS DOUBLE) AS close_checksum
    FROM latest, UNNEST(map_entries(series)) AS t(e)
    GROUP BY symbol
    """,
    doc="Structured Streaming ingest evidence: readStream landing → "
    "foreachBatch keyed upsert (J2), two availableNow runs on one "
    "checkpoint with an overlapping second batch — bronze must equal "
    "last-write-wins per symbol. Oracle re-derives that state from the "
    "landing files via rank-by-Last-Refreshed. Exercises exactly-once "
    "file tracking, the upsert sink, and ingest normalization.",
)
def streaming_ingest_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.sources.alphavantage import (  # noqa: PLC0415
        SYMBOL_NORMALIZATION,
        default_fixture_docs,
        make_fixture_doc,
        write_fixture_landing,
    )
    from market_pulse_data_pipeline_spark.sources.landing import (  # noqa: PLC0415
        write_landing_doc,
    )
    from market_pulse_data_pipeline_spark.streaming.ingest import (  # noqa: PLC0415
        stream_landing_to_bronze,
    )

    shutil.rmtree(_STREAM_ROOT, ignore_errors=True)
    landing = os.path.join(_STREAM_ROOT, "landing")
    warehouse = os.path.join(_STREAM_ROOT, "warehouse")
    checkpoint = os.path.join(_STREAM_ROOT, "checkpoint")

    # batch 1: full fixture corpus
    write_fixture_landing(landing, default_fixture_docs(n_days=_BATCH1_DAYS))
    stream_landing_to_bronze(
        spark, landing, warehouse, checkpoint, available_now=True
    ).awaitTermination()

    # batch 2: fresher documents for three symbols, as NEW files — the
    # checkpointed file source must read only these on the second run
    for key in _REFRESHED:
        doc = make_fixture_doc(
            SYMBOL_NORMALIZATION.get(key, key),
            n_days=_BATCH2_DAYS,
            end=_BATCH2_END,
        )
        write_landing_doc(landing, f"{key}_refresh", doc)
    stream_landing_to_bronze(
        spark, landing, warehouse, checkpoint, available_now=True
    ).awaitTermination()

    bronze = spark.read.parquet(os.path.join(warehouse, "raw_alphavantage"))
    series = F.col("data").getField("Time Series (Daily)")
    day = F.explode(F.map_keys(series)).alias("day")
    exploded = bronze.select("symbol", series.alias("series"), day)
    # column-keyed map access via [] — getItem(Column) is deprecated
    # since Spark 3.0 and warns on every evaluation in 4.x
    close = F.col("series")[F.col("day")]["4. close"]
    return exploded.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min(F.col("day").cast("date")).alias("first_date"),
        F.max(F.col("day").cast("date")).alias("last_date"),
        F.sum(close.cast("decimal(20,6)")).cast("double").alias(
            "close_checksum"
        ),
    )


def _events_stream(
    spark: SparkSession, sf_dir: str, max_files: int = 8
) -> DataFrame:
    """File-source readStream over the events table (shared by every
    events-based streaming witness). The file stream source requires a
    DIRECTORY; point it at the sf dir and glob-filter to events only.
    The fixture's ts encoding varies by generation (nanos-as-long or
    micros NTZ); normalize to plain TIMESTAMP — watermarks and
    unix_micros need one type."""
    from market_pulse_data_pipeline_spark.sources.tables import (  # noqa: PLC0415
        _ensure_session_confs,
        normalize_event_ts,
    )

    _ensure_session_confs(spark)
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream)


@register(
    "streaming_windowed_agg",
    """
    SELECT event_type,
           epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
             AS window_start_us,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE)
             AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="watermarked windowed aggregation through a REAL streaming "
    "query: readStream(events parquet) -> withWatermark(10 min) -> "
    "1h tumbling window per event_type -> complete-mode memory sink, "
    "availableNow. The finished sink table must equal the batch "
    "relational oracle exactly — the witness that the streaming "
    "window operator, watermark plumbing, and sink all compute the "
    "batch semantics (the Structured Streaming correctness "
    "contract). Complete mode is used so closed AND open windows "
    "emit; state is watermark-bounded either way.",
)
def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    sink = f"stream_win_agg_{os.getpid()}"
    q = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(
            F.col("event_type"),
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "event_type",
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "total_value",
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@register(
    "streaming_dedup_watermark",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="streaming exactly-once-per-key dedup through a REAL streaming "
    "query: readStream(events) -> withWatermark -> "
    "dropDuplicatesWithinWatermark(user_id, event_type) -> append-mode "
    "memory sink. WHICH physical row survives per key depends on "
    "arrival order, so only the key columns are returned — that set "
    "must equal the batch DISTINCT exactly. Witnesses the streaming "
    "dedup state store; at scale state holds one entry per key inside "
    "the watermark horizon, dropped as the watermark passes.",
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    sink = f"stream_dedup_{os.getpid()}"
    q = (
        stream.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits once per surviving row; the key SET is the
    # deterministic part (enforce it relationally for the comparison)
    return spark.table(sink).distinct()


_ATTR_BOUND_MIN = 15  # attribution window, minutes


@register(
    "streaming_interval_join_attribution",
    f"""
    SELECT s.user_id,
           s.event_id AS left_event_id,
           epoch_us(CAST(s.ts AS TIMESTAMP)) AS left_ts_us,
           p.event_id AS right_event_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS right_ts_us
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND p.ts >= s.ts
     AND p.ts <= s.ts + INTERVAL {_ATTR_BOUND_MIN} MINUTE
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    """,
    doc="stream-stream interval join through REAL streaming queries: "
    "two readStreams over events (signups / purchases), joined on "
    "user within a 15-minute attribution window, append-mode memory "
    "sink. The emitted pair set must equal the batch interval join "
    "exactly. Both sides carry watermarks and the join condition "
    "carries the time bound, so buffered state is bounded by "
    "watermark + bound — the requirement for running this at all on "
    "an unbounded stream. streaming/events.py:stream_interval_join.",
)
def streaming_interval_join_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.streaming.events import (  # noqa: PLC0415
        stream_interval_join,
    )

    stream = _events_stream(spark, sf_dir)
    left = stream.filter(F.col("event_type") == "signup")
    right = stream.filter(F.col("event_type") == "purchase")
    joined = stream_interval_join(
        left, right, bound=f"{_ATTR_BOUND_MIN} minutes"
    )
    sink = f"stream_ssjoin_{os.getpid()}"
    q = (
        joined.select(
            "user_id",
            "left_event_id",
            F.unix_micros("left_ts").alias("left_ts_us"),
            "right_event_id",
            F.unix_micros("right_ts").alias("right_ts_us"),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@register(
    "streaming_stateful_user_stats",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS last_ts_us
    FROM events
    WHERE user_id < 50
    GROUP BY user_id
    """,
    doc="CUSTOM stateful streaming operator (applyInPandasWithState) "
    "as a correctness row: events split into 4 ranged files, streamed "
    "one file per micro-batch so per-user GroupState genuinely "
    "accumulates ACROSS batches, update-mode memory sink; the final "
    "update per user (count + last event time) must equal the batch "
    "aggregate. Only order-insensitive integer accumulators are "
    "compared (count, max-ts) — float accumulation order across "
    "batches is not oracle-stable by design. "
    "streaming/stateful.py:running_user_stats; watermark is set past "
    "the data span so no batch-order-dependent late-drop can occur.",
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.streaming.stateful import (  # noqa: PLC0415
        running_user_stats,
    )

    src_dir = os.path.join(_STREAM_ROOT, "stateful_src")
    shutil.rmtree(src_dir, ignore_errors=True)
    from market_pulse_data_pipeline_spark.sources.tables import (  # noqa: PLC0415
        normalize_event_ts,
    )

    events = normalize_event_ts(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    (
        events.filter(F.col("user_id") < 50)
        .repartitionByRange(4, "ts")
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    # watermark far beyond the data span: batch (=file) arrival order is
    # not guaranteed, and a late-arriving old file must not be dropped —
    # this witness checks state accumulation, not late-data policy.
    stats = running_user_stats(stream, watermark="3650 days")
    sink = f"stream_stateful_{os.getpid()}"
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per user per batch that touched it; the
    # FINAL state per user is the row with the largest n_events
    updates = spark.table(sink)
    return (
        updates.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.unix_micros(F.max("last_ts")).alias("last_ts_us"),
        )
    )


@register(
    "streaming_static_enrich",
    """
    SELECT CASE event_type
             WHEN 'click' THEN 'engagement'
             WHEN 'view' THEN 'engagement'
             WHEN 'signup' THEN 'conversion'
             WHEN 'purchase' THEN 'conversion'
             ELSE 'ops'
           END AS category,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    doc="stream-static join: the event stream enriched against a "
    "small static dimension (event_type -> category), aggregated per "
    "category in complete mode. The static side is broadcast and "
    "re-resolved per micro-batch — the standard streaming enrichment "
    "shape (dim updates between batches are picked up automatically); "
    "no stream-side state beyond the aggregation. Result ≡ the batch "
    "CASE mapping.",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("signup", "conversion"),
            ("purchase", "conversion"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    stream = _events_stream(spark, sf_dir)
    sink = f"stream_static_{os.getpid()}"
    q = (
        stream.join(F.broadcast(dim), "event_type", "left")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@register(
    "streaming_cdc_apply",
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
    doc="streaming CDC apply: the cdc_apply_changes feed split into 3 "
    "seq-ranged files (mtimes pinned ascending so the checkpointed "
    "file source replays them in seq order, maxFilesPerTrigger=1), "
    "each micro-batch applied onto a VERSIONED base snapshot via "
    "foreachBatch + operators/cdc.py::apply_changes. Because batch "
    "order aligns with seq order, per-batch latest-wins COMPOSES to "
    "global latest-wins — the final table must hash-equal the batch "
    "CDC oracle (delete-then-upsert across batches survives, "
    "upsert-then-delete is removed). The streaming consume side of "
    "the CDC pair; state per batch is one anti-join + union, and the "
    "snapshot flip is the pointer-swap pattern.",
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob  # noqa: PLC0415

    from market_pulse_data_pipeline_spark.operators.cdc import (  # noqa: PLC0415
        apply_changes,
    )
    from market_pulse_data_pipeline_spark.sources.tables import (  # noqa: PLC0415
        load_table,
    )

    root = os.path.join(_STREAM_ROOT, "cdc")
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "changes")
    os.makedirs(src)

    orders = load_table(spark, sf_dir, "orders")
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
    hi = changes.agg(F.max("seq")).head()[0] + 1
    cuts = [0, hi // 3, 2 * hi // 3, hi]
    for i in range(3):
        tmp = os.path.join(root, f"stage{i}")
        (
            changes.filter(
                (F.col("seq") >= cuts[i]) & (F.col("seq") < cuts[i + 1])
            )
            .coalesce(1)
            .write.parquet(tmp)
        )
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    state = {"cur": os.path.join(root, "table_v0")}
    base.write.parquet(state["cur"])

    def apply_batch(bdf, batch_id):
        s = bdf.sparkSession
        cur = s.read.parquet(state["cur"])
        nxt = os.path.join(root, f"table_v{batch_id + 1}")
        apply_changes(cur, bdf, ["c_custkey"]).write.parquet(nxt)
        state["cur"] = nxt  # pointer swap after a complete write

    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state["cur"])


@register(
    "streaming_session_window",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      -- the running sum orders by the SAME (ts, event_id) tiebreak as
      -- the lag window above: under per-user ts ties a ROWS frame
      -- ordered by ts alone is nondeterministic and could place an
      -- is_new=1 row differently, splitting sessions differently
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS window_start_us,
           epoch_us(MAX(ts)) + 1800000000 AS window_end_us
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="session_window through a REAL streaming query: "
    "readStream(events) -> withWatermark -> groupBy(user_id, "
    "session_window(ts, '30 minutes')) -> complete-mode memory sink, "
    "availableNow. This exercises the state-store-backed session "
    "MERGING path (overlapping per-batch sessions coalesce as late "
    "rows extend them) that the batch generator never touches; the "
    "finished sink must equal the relational lag+running-sum "
    "construction — the same oracle session_window_native (batch) "
    "hash-checks against, closing batch ≡ streaming ≡ relational as "
    "a three-way equivalence. Watermark bounds session state at "
    "scale; complete mode is used so the final table reflects all "
    "merges regardless of batch boundaries.",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir, max_files=8)
    sink = f"stream_session_{os.getpid()}"
    q = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.unix_micros(F.col("w.end")).alias("window_end_us"),
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


_DS_ROOT = os.path.join(SCRATCH_ROOT, "pyds")
_DS_REFRESH = 4  # symbols refreshed (as new files) in the second batch


@register(
    "python_datasource_stream",
    f"""
    WITH docs AS (
      SELECT ("Meta Data"['2. Symbol'])[1] AS symbol0,
             "Time Series (Daily)" AS series
      FROM read_json('{_DS_ROOT}/landing/*.json',
                     columns={{'Meta Data': 'MAP(VARCHAR, VARCHAR)',
                              'Time Series (Daily)':
                                'MAP(VARCHAR, MAP(VARCHAR, VARCHAR))'}})
      WHERE "Time Series (Daily)" IS NOT NULL
    )
    SELECT CASE WHEN symbol0 = 'BRK.B' THEN 'BRK-B' ELSE symbol0 END
             AS symbol,
           COUNT(*) AS n_docs,
           CAST(SUM(cardinality(series)) AS BIGINT) AS total_days
    FROM docs
    GROUP BY 1
    """,
    doc="Spark 4 Python STREAMING DataSource "
    "(SimpleDataSourceStreamReader): readStream.format('alphavantage') "
    "over the landing directory, where the OFFSET is the seen-file "
    "set checkpointed by the engine — two availableNow runs on one "
    "checkpoint, with a second batch of refreshed documents landed "
    "between them as NEW files. The parquet sink must hold exactly "
    "one row per landed file (n_docs = 2 for refreshed symbols, 1 "
    "for the rest): if the second run re-read the first batch the "
    "counts would inflate, if it missed new files they'd fall short "
    "— the oracle recounts per-file truth straight from the landing "
    "JSON. Completes the custom-source story: the same DataSource "
    "class now serves batch (S1 mapping) AND streaming with "
    "exactly-once file tracking, like Spark's own FileStreamSource "
    "but implemented in ~40 lines of Python against an arbitrary "
    "external system.",
)
def python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.sources.alphavantage import (  # noqa: PLC0415
        SYMBOL_NORMALIZATION,
        TOP_10_STOCKS,
        default_fixture_docs,
        make_fixture_doc,
    )
    from market_pulse_data_pipeline_spark.sources.datasource import (  # noqa: PLC0415
        AlphaVantageDataSource,
    )
    from market_pulse_data_pipeline_spark.sources.landing import (  # noqa: PLC0415
        write_landing_doc,
    )

    shutil.rmtree(_DS_ROOT, ignore_errors=True)
    landing = os.path.join(_DS_ROOT, "landing")
    sink = os.path.join(_DS_ROOT, "sink")
    checkpoint = os.path.join(_DS_ROOT, "checkpoint")
    spark.dataSource.register(AlphaVantageDataSource)

    def run_once() -> None:
        q = (
            spark.readStream.format("alphavantage")
            .option("path", landing)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: the full fixture corpus, one file per symbol
    for key, doc in default_fixture_docs(n_days=45).items():
        write_landing_doc(landing, key, doc)
    run_once()

    # batch 2: refreshed documents for a subset, landed as NEW files
    for sym in TOP_10_STOCKS[:_DS_REFRESH]:
        loaded = SYMBOL_NORMALIZATION.get(sym, sym)
        write_landing_doc(
            landing,
            f"{sym}.r2",
            make_fixture_doc(loaded, n_days=20, end="2025-10-17"),
        )
    run_once()

    out = spark.read.parquet(sink)
    return out.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_days").cast("long").alias("total_days"),
    )


_OUTER_WM_MIN = 1  # watermark delay, minutes


@register(
    "streaming_outer_join_eviction",
    f"""
    WITH s AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'signup'
    ),
    p AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT LEAST((SELECT MAX(ts) FROM s), (SELECT MAX(ts) FROM p))
             - INTERVAL {_OUTER_WM_MIN} MINUTE AS w
    ),
    pairs AS (
      SELECT s.user_id, s.event_id AS left_event_id,
             epoch_us(s.ts) AS left_ts_us,
             p.event_id AS right_event_id,
             epoch_us(p.ts) AS right_ts_us
      FROM s JOIN p
        ON s.user_id = p.user_id
       AND p.ts >= s.ts
       AND p.ts <= s.ts + INTERVAL {_ATTR_BOUND_MIN} MINUTE
    ),
    unmatched AS (
      SELECT s.user_id, s.event_id AS left_event_id,
             epoch_us(s.ts) AS left_ts_us,
             CAST(NULL AS BIGINT) AS right_event_id,
             CAST(NULL AS BIGINT) AS right_ts_us
      FROM s
      ANTI JOIN p
        ON s.user_id = p.user_id
       AND p.ts >= s.ts
       AND p.ts <= s.ts + INTERVAL {_ATTR_BOUND_MIN} MINUTE
      WHERE s.ts + INTERVAL {_ATTR_BOUND_MIN} MINUTE
            < (SELECT w FROM wm)
    )
    SELECT * FROM pairs UNION ALL SELECT * FROM unmatched
    """,
    doc="LEFT OUTER stream-stream interval join through a REAL "
    "streaming query — the state-EVICTION semantics the inner join "
    "witness cannot show: unmatched signups are emitted with a NULL "
    "purchase side only when the global watermark (the MIN across "
    "both streams' watermarks) passes their attribution window's "
    "end, because that is the moment their buffered state is dropped "
    "— which is what makes an outer join runnable on an unbounded "
    "stream at all. One source file = one data micro-batch, so under "
    "availableNow the emitted set is deterministic: the batch inner "
    "pairs plus exactly the unmatched signups with "
    f"left.ts + {_ATTR_BOUND_MIN}min < "
    f"min(max signup ts, max purchase ts) - {_OUTER_WM_MIN}min — the "
    "oracle re-derives both parts relationally, so the hash match "
    "pins the eviction cutoff itself (signups newer than the final "
    "watermark stay buffered and are correctly ABSENT). "
    "streaming/events.py:stream_interval_join(how='leftOuter').",
)
def streaming_outer_join_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.streaming.events import (  # noqa: PLC0415
        stream_interval_join,
    )

    stream = _events_stream(spark, sf_dir)
    left = stream.filter(F.col("event_type") == "signup")
    right = stream.filter(F.col("event_type") == "purchase")
    joined = stream_interval_join(
        left,
        right,
        watermark=f"{_OUTER_WM_MIN} minutes",
        bound=f"{_ATTR_BOUND_MIN} minutes",
        how="leftOuter",
    )
    sink = f"stream_louter_{os.getpid()}"
    q = (
        joined.select(
            "user_id",
            "left_event_id",
            F.unix_micros("left_ts").alias("left_ts_us"),
            "right_event_id",
            F.unix_micros("right_ts").alias("right_ts_us"),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


_DD_MOD = 2  # dedup witness keys: even user_ids (disjoint from the
# registered streaming_dedup_watermark row, which keys on ALL users)
_SS_MOD, _SS_REM = 3, 1  # stateful witness users: user_id % 3 == 1 —
# non-empty at EVERY scale factor (the user domain scales with sf, so
# a fixed band like 50..100 is empty at sf0.001), distinct from
# streaming_stateful_user_stats' user_id < 50 prefix band
_N_FILES = 6  # ts-ranged source files = micro-batches (1 file/trigger)
_CRASH_BATCH = 2  # run 1 dies here: after 2 committed stateful batches


def _ranged_source_files(
    df: DataFrame, root: str, subdir: str
) -> tuple[str, list[str]]:
    """Write ``df`` as up to _N_FILES ts-range-partitioned parquet files
    under ``root/subdir`` with mtimes pinned ascending, so the
    checkpointed file source (oldest-first) consumes them in ts order,
    one per micro-batch. Returns (src_dir, sorted file paths)."""
    tmp = os.path.join(root, f"{subdir}_stage")
    src = os.path.join(root, subdir)
    os.makedirs(src)
    df.repartitionByRange(_N_FILES, "ts").write.parquet(tmp)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
    out = []
    for i, p in enumerate(parts):
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.move(p, dst)
        os.utime(dst, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))
        out.append(dst)
    shutil.rmtree(tmp)
    return src, out


@register(
    "streaming_dedup_state_recovery",
    f"""
    SELECT DISTINCT user_id, event_type
    FROM events
    WHERE user_id % {_DD_MOD} = 0
    """,
    doc="checkpoint recovery of the dropDuplicatesWithinWatermark "
    "state store across a clean stop/restart: run 1 (availableNow) "
    "drains the first half of a ts-ranged file feed and shuts down, "
    "the second half lands, and a NEW query resumes on the same "
    "checkpoint + file sink. ts-ranged halves share most keys, so "
    "run 2 re-presents keys run 1 already emitted — suppressed iff "
    "the dedup state reloaded from the checkpoint. The file sink is "
    "read back WITHOUT distinct: one row per key iff recovery "
    "worked; lost state duplicates rows and breaks the hash against "
    "the batch DISTINCT oracle. Watermark is set past the data span "
    "so no key can expire between runs (state-recovery witness, not "
    "late-data policy). At scale state holds one entry per key "
    "inside the watermark horizon — recovery reloads exactly that, "
    "never reprocessing history.",
)
def streaming_dedup_state_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") % _DD_MOD == 0)
        .select("user_id", "event_type", "ts")
    )
    return streaming_dedup_state_recovery_from(
        events, scratch("recovery_dedup")
    )


def streaming_dedup_state_recovery_from(
    events: DataFrame, root: str
) -> DataFrame:
    """Frame-level body (events: user_id, event_type, ts) — shared by
    the registered-path query and tools/stress_check.py's multiplied
    ladder, the same *_from convention as t_closeness_check."""
    spark = events.sparkSession
    shutil.rmtree(root, ignore_errors=True)
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    src, files = _ranged_source_files(events, root, "src")
    schema = spark.read.parquet(files[0]).schema

    # tranche 2 is hidden from run 1 (moved aside, not yet landed)
    pending = os.path.join(root, "pending")
    os.makedirs(pending)
    half = (len(files) + 1) // 2
    for p in files[half:]:
        shutil.move(p, os.path.join(pending, os.path.basename(p)))

    def run_once() -> None:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "3650 days")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # run 1: first half only, clean shutdown
    for name in sorted(os.listdir(pending)):  # second half lands
        shutil.move(os.path.join(pending, name), os.path.join(src, name))
    run_once()  # run 2: NEW query, same checkpoint — state must reload

    # no distinct: multiplicity is the witness (the file-sink metadata
    # log scopes the read to committed files across both runs).
    # Eagerly materialized: the query wipes and rewrites
    # its scratch root at entry, so a LAZY frame held from a previous
    # same-session invocation would silently re-read the new run's
    # files — the checkpoint pins this invocation's rows.
    return spark.read.parquet(sink).localCheckpoint(eager=True)


@register(
    "streaming_stateful_crash_recovery",
    f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS last_ts_us
    FROM events
    WHERE user_id % {_SS_MOD} = {_SS_REM}
    GROUP BY user_id
    """,
    doc="WAL replay of custom applyInPandasWithState GroupState after "
    "a mid-stream CRASH: the foreachBatch sink deterministically "
    f"raises on micro-batch {_CRASH_BATCH} before writing, killing "
    "run 1 with that batch's offsets in the WAL but neither its sink "
    "rows nor its state delta committed. The restart must replay the "
    "batch against the prior state snapshot and continue — per-user "
    "running counts survive iff state recovered exactly (lost state "
    "restarts counts mid-feed; a double-committed replay would "
    "overcount). Final per-user max(n_events) over all captured "
    "update rows must equal the batch COUNT(*); only "
    "order-insensitive integer accumulators are compared, the "
    "streaming_stateful_user_stats discipline. "
    "streaming/stateful.py:running_user_stats; watermark past the "
    "data span so no batch-order-dependent late-drop can occur.",
)
def streaming_stateful_crash_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") % _SS_MOD == _SS_REM)
        .select("user_id", "ts", "value")
    )
    return streaming_stateful_crash_recovery_from(
        events, scratch("recovery_stateful")
    )


def streaming_stateful_crash_recovery_from(
    events: DataFrame, root: str
) -> DataFrame:
    """Frame-level body (events: user_id, ts, value) — shared by the
    registered-path query and tools/stress_check.py's multiplied
    ladder, the same *_from convention as t_closeness_check."""
    from market_pulse_data_pipeline_spark.streaming.stateful import (  # noqa: PLC0415
        running_user_stats,
    )

    spark = events.sparkSession
    shutil.rmtree(root, ignore_errors=True)
    capture = os.path.join(root, "capture")
    ckpt = os.path.join(root, "ckpt")
    src, files = _ranged_source_files(events, root, "src")
    schema = spark.read.parquet(files[0]).schema

    fault = {"armed": True}

    def capture_batch(bdf: DataFrame, batch_id: int) -> None:
        if fault["armed"] and batch_id == _CRASH_BATCH:
            fault["armed"] = False  # the replay must NOT crash again
            raise RuntimeError("planted mid-stream crash (recovery witness)")
        (
            bdf.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(capture)
        )

    def run_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_user_stats(stream, watermark="3650 days")
            .writeStream.foreachBatch(capture_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        except Exception as exc:  # StreamingQueryException wraps it
            if "planted mid-stream crash" not in str(exc):
                raise  # genuine failures must not be swallowed

    run_once()  # run 1: dies on the planted crash at batch 2
    run_once()  # run 2: replays batch 2 from the WAL, then drains

    # update mode emits one row per user per batch that touched it;
    # the FINAL recovered state per user is the largest n_events.
    # Eagerly materialized — see
    # streaming_dedup_state_recovery_from: the scratch wipe at entry
    # would otherwise invalidate a lazy frame from a prior invocation.
    return (
        spark.read.parquet(capture)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.unix_micros(F.max("last_ts")).alias("last_ts_us"),
        )
        .localCheckpoint(eager=True)
    )
