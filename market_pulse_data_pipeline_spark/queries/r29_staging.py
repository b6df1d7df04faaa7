"""Streaming-state recovery witnesses (VERDICT round-14 item 4):
checkpoint recovery of STATEFUL streaming state, not just the
file-source offset replay that ``streaming_ingest_upsert`` already
witnesses. Both are registered with a DuckDB value-hash oracle,
checked by tests/test_queries_oracle.py.

The two queries witness the two distinct recovery paths Structured
Streaming guarantees (both modeled on streaming_evidence.py's
two-run-one-checkpoint pattern, both hash-proved equal to the
uninterrupted batch semantics):

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

import atexit
import glob
import os
import shutil
import tempfile
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import register, t

# Per-process scratch root — same pattern as streaming_evidence.py:
# concurrent harness processes get distinct paths, content is fully
# deterministic, and every query wipes its own subtree at entry so
# repeated runs in one session stay idempotent.
_R29_ROOT = os.path.join(
    tempfile.gettempdir(), f"mp_recovery_oracle_{os.getpid()}"
)
atexit.register(lambda: shutil.rmtree(_R29_ROOT, ignore_errors=True))

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
        events, os.path.join(_R29_ROOT, "dedup")
    )


def streaming_dedup_state_recovery_from(
    events: DataFrame, root: str
) -> DataFrame:
    """Frame-level body (events: user_id, event_type, ts) — shared by
    the registered-path query and tools/stress_check.py's multiplied
    ladder, the same *_from convention as the r23 stages."""
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
    # Eagerly materialized (ADVICE r15): the query wipes and rewrites
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
        events, os.path.join(_R29_ROOT, "stateful")
    )


def streaming_stateful_crash_recovery_from(
    events: DataFrame, root: str
) -> DataFrame:
    """Frame-level body (events: user_id, ts, value) — shared by the
    registered-path query and tools/stress_check.py's multiplied
    ladder, the same *_from convention as the r23 stages."""
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
            raise RuntimeError("planted mid-stream crash (r29 witness)")
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
    # Eagerly materialized (ADVICE r15) — see
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
