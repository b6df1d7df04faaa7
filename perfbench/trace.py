"""Spans around the calls into each layer, and per-span stage metrics
parsed from Spark's event log.

A traced run wraps the program's layer entry points (bronze upsert and
commit, each model's materialization, QC, streaming ingest) in spans
from this file, sets a Spark job group per span, and registers a
``StreamingQueryListener``. Afterwards the uncompressed, non-rolling
event log is parsed and every job is attributed to a span: by its job
group when it carries one, otherwise (jobs the streaming engine submits
from its own thread) to the innermost span open when it was submitted.

Per span:

- ``wall_s``: span end minus start, on the driver's clock;
- ``job_s`` / ``stage_s``: time covered by the union of its jobs' / its
  stages' intervals, clipped to the span;
- ``self_s``: ``wall_s - job_s``, the time no Spark job of the span ran
  (Python, planning, file listing, commit renames);
- ``residual_s``: ``wall_s - stage_s - self_s``, job time no stage
  covers. A span reconciles when ``residual_s`` is at most
  ``RECONCILE_MARGIN`` of its wall time (or ``RECONCILE_FLOOR_S``).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from datetime import datetime
from dataclasses import dataclass, field

RECONCILE_MARGIN = 0.10
RECONCILE_FLOOR_S = 0.05

PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
PYTHON_METRICS = {
    "number of output rows": "python_rows",
    "data sent to Python workers": "python_bytes_out",
    "data returned from Python workers": "python_bytes_in",
}
FILE_METRICS = {"number of files read": "input_files", "number of written files": "output_files"}
STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("exec_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("exec_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
SUMMED = (
    "exec_run_s", "exec_cpu_s", "gc_s", "input_bytes", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_files",
    "output_files", "python_rows", "python_bytes_out", "python_bytes_in",
    "json_scan_run_s", "json_scan_tasks",
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory; patches the program's layer entry points
    while installed."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.batches: list[dict] = []
        self._lock = threading.Lock()
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._listener = None

    # -- spans ---------------------------------------------------------

    def open(self, name: str, **attrs) -> Span:
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            span = Span(f"perfbench-{len(self.spans)}", name, parent, time.time(), attrs=attrs)
            self.spans.append(span)
            self._stack.append(span)
        self.spark.sparkContext.setJobGroup(span.id, name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        with self._lock:
            self._stack.remove(span)
            parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext
        if parent is not None:
            sc.setJobGroup(parent.id, parent.name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    # -- layer entry points ----------------------------------------------

    def install(self) -> None:
        """Wrap the program's layer entry points in spans."""
        from market_pulse_data_pipeline_spark.plans import runner  # noqa: PLC0415
        from market_pulse_data_pipeline_spark.streaming import ingest  # noqa: PLC0415
        from market_pulse_data_pipeline_spark.streaming import pipeline as spipe  # noqa: PLC0415

        def commit(orig, layer):
            def wrapped(df, path, partition_by=None):
                with self.span(f"{layer}.{os.path.basename(path)}") as s:
                    orig(df, path, partition_by)
                s.attrs.update(zip(("files", "bytes"), dir_size(path)))

            return wrapped

        def spanned(orig, name):
            def wrapped(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)

            return wrapped

        def ingest_until_done(orig):
            def wrapped(*args, **kwargs):
                s = self.open("streaming.ingest")
                try:
                    return _Awaited(orig(*args, **kwargs), lambda: self.close(s))
                except BaseException:
                    self.close(s)
                    raise

            return wrapped

        self._patch(ingest, "atomic_overwrite_parquet", commit(ingest.atomic_overwrite_parquet, "merge"))
        self._patch(runner, "atomic_overwrite_parquet", commit(runner.atomic_overwrite_parquet, "runner"))
        self._patch(spipe, "run_reference_suite", spanned(spipe.run_reference_suite, "qc.run_reference_suite"))
        self._patch(spipe, "stream_landing_to_bronze", ingest_until_done(spipe.stream_landing_to_bronze))
        self._listener = _progress_listener(self.batches)
        self.spark.streams.addListener(self._listener)

    def _patch(self, mod, name: str, fn) -> None:
        self._patches.append((mod, name, getattr(mod, name)))
        setattr(mod, name, fn)

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patches):
            setattr(mod, name, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def settle_listener(self, quiet_s: float = 0.5, timeout_s: float = 10.0) -> None:
        """Wait until the listener bus has gone ``quiet_s`` without
        delivering a progress event."""
        deadline = time.time() + timeout_s
        seen, since = len(self.batches), time.time()
        while time.time() < deadline:
            time.sleep(0.05)
            if len(self.batches) != seen:
                seen, since = len(self.batches), time.time()
            elif time.time() - since >= quiet_s:
                return


class _Awaited:
    """A StreamingQuery whose ``awaitTermination`` closes the ingest span."""

    def __init__(self, query, on_done) -> None:
        self._query = query
        self._on_done = on_done

    def awaitTermination(self, timeout=None):  # noqa: N802 - StreamingQuery API
        try:
            return self._query.awaitTermination(timeout)
        finally:
            self._on_done()

    def __getattr__(self, name):
        return getattr(self._query, name)


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            sink.append(
                {
                    "ts": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "batch_id": p.batchId,
                    "input_rows": p.numInputRows,
                    "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
                    "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                }
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Progress()


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under a table directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# -- event log ----------------------------------------------------------------


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    python = bool(PYTHON_NODE.search(plan.get("nodeName", "")))
    for m in plan.get("metrics", []):
        if python and m["name"] in PYTHON_METRICS:
            out[m["accumulatorId"]] = PYTHON_METRICS[m["name"]]
        elif m["name"] in FILE_METRICS:
            out[m["accumulatorId"]] = FILE_METRICS[m["name"]]
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def parse_event_log(path: str) -> dict:
    """Jobs, executed stages and SQL metrics from one event log file."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    sql_accums: dict[int, str] = {}
    accum_values: dict[int, float] = {}
    accum_exec: dict[int, int] = {}
    exec_of_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1e3,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": set(ev["Stage IDs"]),
                }
                if props.get("spark.sql.execution.id") is not None:
                    exec_of_job[jid] = int(props["spark.sql.execution.id"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info:
                    continue
                scopes = " ".join(r.get("Scope", "") or "" for r in info.get("RDD Info", []))
                st = {
                    "id": info["Stage ID"],
                    "start": info["Submission Time"] / 1e3,
                    "end": info["Completion Time"] / 1e3,
                    "tasks": info["Number of Tasks"],
                    "json_scan": "Scan json" in scopes,
                    "accums": {},
                }
                for a in info.get("Accumulables", []):
                    name = a.get("Name", "")
                    if name in STAGE_METRICS:
                        key, scale = STAGE_METRICS[name]
                        st[key] = st.get(key, 0) + float(a["Value"]) * scale
                    else:
                        try:
                            st["accums"][a["ID"]] = float(a["Value"])
                        except (TypeError, ValueError):
                            pass
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = st
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                found: dict[int, str] = {}
                _plan_metrics(ev.get("sparkPlanInfo", {}), found)
                sql_accums.update(found)
                for acc in found:
                    accum_exec[acc] = ev["executionId"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, value in ev["accumUpdates"]:
                    accum_values[acc] = max(accum_values.get(acc, 0), float(value))
    return {
        "jobs": jobs,
        "stages": stages,
        "sql_accums": sql_accums,
        "accum_values": accum_values,
        "accum_exec": accum_exec,
        "exec_of_job": exec_of_job,
    }


def span_metrics(spans: list[Span], log: dict) -> None:
    """Attribute jobs and stages to spans and fill ``span.metrics``."""
    by_id = {s.id: s for s in spans}
    owned_jobs: dict[str, list[int]] = {s.id: [] for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    for jid, job in log["jobs"].items():
        owner = by_id.get(job["group"] or "")
        if owner is None or not (owner.start <= job["start"] <= owner.end + 1e-3):
            inside = [s for s in ordered if s.start <= job["start"] <= s.end]
            owner = max(inside, key=lambda s: s.start) if inside else None
        if owner is not None:
            owned_jobs[owner.id].append(jid)

    children: dict[str, list[str]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent in children:
            children[s.parent].append(s.id)

    def subtree(sid: str) -> list[str]:
        out = [sid]
        for c in children[sid]:
            out += subtree(c)
        return out

    # a stage runs in the first job that lists it; later jobs skip it
    ran_in: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for sid in log["jobs"][jid]["stages"]:
            ran_in.setdefault(sid, jid)
    stages_of_job: dict[int, list[dict]] = {}
    for (sid, _), st in log["stages"].items():
        if sid in ran_in:
            stages_of_job.setdefault(ran_in[sid], []).append(st)
    exec_of_job = log["exec_of_job"]
    # SQL metric accumulators: a stage reports the running total, so take
    # the largest value seen per accumulator, then charge it to the span
    # owning the first job of its SQL execution.
    accum_total: dict[int, float] = dict(log["accum_values"])
    for st in log["stages"].values():
        for acc, v in st["accums"].items():
            if acc in log["sql_accums"]:
                accum_total[acc] = max(accum_total.get(acc, 0), v)
    exec_owner: dict[int, str] = {}
    for sid, jids in owned_jobs.items():
        for jid in sorted(jids):
            if jid in exec_of_job:
                exec_owner.setdefault(exec_of_job[jid], sid)

    for s in spans:
        jids = [j for sid in subtree(s.id) for j in owned_jobs[sid]]
        jobs = [log["jobs"][j] for j in jids]
        stages = [st for j in jids for st in stages_of_job.get(j, [])]
        wall = s.end - s.start
        job_s = _union([(j["start"], j["end"] or s.end) for j in jobs], s.start, s.end)
        stage_s = _union([(st["start"], st["end"]) for st in stages], s.start, s.end)
        m = {k: 0.0 for k in SUMMED}
        for st in stages:
            for k in SUMMED:
                m[k] += st.get(k, 0)
            if st["json_scan"]:
                m["json_scan_run_s"] += st.get("exec_run_s", 0)
                m["json_scan_tasks"] += st["tasks"]
        sub = set(subtree(s.id))
        for acc, kind in log["sql_accums"].items():
            ex = log["accum_exec"].get(acc)
            if exec_owner.get(ex) in sub:
                m[kind] += accum_total.get(acc, 0)
        m.update(
            wall_s=wall,
            job_s=job_s,
            stage_s=stage_s,
            self_s=wall - job_s,
            residual_s=job_s - stage_s,
            jobs=len(jobs),
            stages=len(stages),
            tasks=sum(st["tasks"] for st in stages),
            single_task_stages=sum(1 for st in stages if st["tasks"] == 1),
            shuffle_bytes=m["shuffle_read_bytes"] + m["shuffle_write_bytes"],
        )
        m["reconciled"] = m["residual_s"] <= max(RECONCILE_MARGIN * wall, RECONCILE_FLOOR_S)
        s.metrics = m


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
