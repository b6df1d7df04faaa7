"""The workloads. Each sets up its inputs from the seed, warms the
engine before timing starts, then runs measured ops until ``seconds``
have passed and at least ``MIN_OPS`` ops have run, checking every op's
output outside its timing.

- ``incremental_delta``: set-up streams the whole landing into bronze
  (more than one micro-batch) and runs one delta cycle as the warm-up:
  the first cycle that lands new files reads 10-30% slower than later
  ones. Ops then repeat a rerun with no new files and two deltas: land
  a few re-delivered documents and a rate-limit payload, run one
  ``run_incremental`` cycle.
- ``query_suite``: set-up runs an untimed pass over ``QUERY_SET`` (8 of
  the 43 ``bench=True`` queries) that collects every result and
  checks it against its DuckDB oracle; it is also the warm-up. The op is
  a timed pass over the same queries in alphabetical order, cache
  cleared first, each forced through the noop sink.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import check, landing, tables

# more documents than the stream's maxFilesPerTrigger (64), so the
# backfill runs more than one micro-batch
LANDING_SHAPE = {"symbols": 66, "days": 250}
DELTA_SYMBOLS = 4
MIN_OPS = {"incremental_delta": 3, "query_suite": 1}
# The bench queries a pass runs: the three whose build/action split
# ROADMAP item 1 asks about, one for each Python UDF kernel family (the
# ``functions`` layer: MinHash LSH, exact substrings, embedding LSH,
# k-means clustering; SimHash is in paragraph_simhash_near_dups) and a
# multi-join TPC-H query that builds eagerly. One cold pass over all 43
# takes about 60 s on 4 cores, which the run budget does not allow.
QUERY_SET = (
    "containment_excerpt_dups", "paragraph_simhash_near_dups", "t_closeness_check",
    "ann_lsh_topk", "exact_substring_trim", "minhash_lsh_near_dups", "semdedup_prune",
    "tpch_q21_waiting_suppliers",
)
NAN = float("nan")


@dataclass
class Op:
    kind: str
    wall_s: float
    problems: list[str] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)


@dataclass
class Run:
    setup_parts: dict = field(default_factory=dict)
    ops: list[Op] = field(default_factory=list)
    inputs: dict = field(default_factory=dict)
    # wall time of every single public call an op made
    calls: list[float] = field(default_factory=list)

    def timed(self, kind: str) -> list[float]:
        return [o.wall_s for o in self.ops if o.kind == kind]

    def named(self, workload: str) -> dict[str, float]:
        """The workload's metrics under their descriptive names."""
        failed = sum(1 for o in self.ops if o.problems)
        out = {"failed_op_ratio": failed / len(self.ops) if self.ops else NAN}
        if workload == "query_suite":
            out.update(query_suite_s=_median(self.timed("pass")),
                       query_geomean_s=geomean(self.calls))
        else:
            stored = [o.attrs["stored_bytes"] / o.attrs["landing_bytes"]
                      for o in self.ops if "stored_bytes" in o.attrs]
            out.update(freshness_s=_median(self.timed("delta")),
                       rerun_s=_median(self.timed("rerun")),
                       stored_bytes_per_input_byte=_median(stored))
        return out

    def end_to_end(self, workload: str, session_s: float) -> dict[str, tuple[float, str]]:
        """The end-to-end metrics every workload reports, as
        ``name -> (value, unit)``: ``op_s`` is ``freshness_s`` or
        ``query_suite_s``, ``call_geomean_s`` the geometric mean over
        every timed public call (each ``run_incremental`` cycle, each
        query's build and action)."""
        return {
            "op_s": (_median(self.timed(PRIMARY[workload])), "s"),
            "call_geomean_s": (geomean(self.calls), "s"),
            "setup_s": (session_s + sum(self.setup_parts.values()), "s"),
        }


class _NoTrace:
    """Stands in for ``trace.Tracer`` when tracing is off."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()


NO_TRACE = _NoTrace()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else NAN


def _keep_going(run: Run, name: str, t0: float, seconds: float) -> bool:
    return len(run.ops) < MIN_OPS[name] or time.perf_counter() - t0 < seconds


def _try(op: Op, fn):
    """Run one op body; an exception is a failed op, not a failed run."""
    try:
        return fn()
    except Exception as e:  # the op failed; the benchmark records it and goes on
        op.problems.append(f"{type(e).__name__}: {e}"[:500])
        return None


def incremental_delta(spark, work: str, seed: int, seconds: float, tracer) -> Run:
    from market_pulse_data_pipeline_spark.streaming.pipeline import run_incremental  # noqa: PLC0415

    run = Run()
    land_dir = os.path.join(work, "landing")
    wh = os.path.join(work, "warehouse")
    ckpt = os.path.join(work, "checkpoint")

    t = time.perf_counter()
    land = landing.generate(land_dir, seed, **LANDING_SHAPE)
    gen_s = time.perf_counter() - t
    expected = landing.Expected(land)

    def land_delta() -> int:
        before = land.bytes
        symbols = land.rng.sample(sorted(land.series), DELTA_SYMBOLS)
        for s in symbols:
            land.redeliver(s)
        land.land_error()
        expected.refresh(symbols)
        return land.bytes - before

    def cycle(op: Op, span: str) -> Op:
        """One timed ``run_incremental`` call, checked outside its timing."""
        want = expected.marts()
        with tracer.span(span, kind=op.kind):
            t = time.perf_counter()
            out = _try(op, lambda: run_incremental(spark, land_dir, wh, ckpt))
            op.wall_s = time.perf_counter() - t
        if out is not None:
            t = time.perf_counter()
            op.problems += _try(op, lambda: check.verify_pipeline(*out, want)) or []
            op.attrs.update(stored_bytes=dir_bytes(wh), landing_bytes=land.bytes,
                            check_s=time.perf_counter() - t)
        return op

    backfill = cycle(Op("backfill", 0.0), "setup.backfill")
    warm = cycle(Op("warmup", 0.0, attrs={"delta_bytes": land_delta()}), "setup.warmup")
    run.setup_parts = {"generate_s": gen_s, "backfill_s": backfill.wall_s,
                       "warmup_s": warm.wall_s}
    run.ops += [o for o in (backfill, warm) if o.problems]

    t0 = time.perf_counter()
    while _keep_going(run, "incremental_delta", t0, seconds):
        kind = "delta" if len(run.ops) % 3 else "rerun"
        op = Op(kind, 0.0)
        if kind == "delta":
            op.attrs["delta_bytes"] = land_delta()
        run.ops.append(cycle(op, "op"))
        run.calls.append(op.wall_s)
    expected.close()
    run.inputs = {"landing_files": land.files, "landing_bytes": land.bytes}
    return run


def query_suite(spark, work: str, seed: int, seconds: float, tracer) -> Run:
    from market_pulse_data_pipeline_spark.queries import all_queries  # noqa: PLC0415
    from market_pulse_data_pipeline_spark.schemas import TESTDATA_TABLES  # noqa: PLC0415

    run = Run()
    sf_dir = os.path.join(work, "sf")
    t = time.perf_counter()
    sf_bytes = tables.write_tables(sf_dir, seed)
    gen_s = time.perf_counter() - t
    registry = all_queries()
    queries = {n: registry[n] for n in sorted(QUERY_SET)}
    oracle = check.oracle_fingerprints(queries, sf_dir, TESTDATA_TABLES)

    # warm-up and output check in one untimed pass: build each query,
    # collect its result and compare it with the DuckDB oracle
    red: dict[str, str] = {}
    t = time.perf_counter()
    with tracer.span("setup.check_pass"):
        for name, q in queries.items():
            try:
                got = check.spark_fingerprint(q.spark(spark, sf_dir))
            except Exception as e:  # a query that raises is red, not a crash
                got = f"{type(e).__name__}: {e}"[:300]
            if got != oracle[name]:
                red[name] = f"spark {got} != oracle {oracle[name]}"
    run.setup_parts = {"generate_s": gen_s, "check_pass_s": time.perf_counter() - t}
    run.inputs = {"sf_dir": os.path.relpath(sf_dir, work), "sf_bytes": sf_bytes,
                  "tables": dict(tables.ROWS), "queries": len(queries),
                  "oracle_rows": {n: fp[0] for n, fp in oracle.items()}}

    per_query: dict[str, list[float]] = {n: [] for n in queries}
    t0 = time.perf_counter()
    while _keep_going(run, "query_suite", t0, seconds):
        op = Op("pass", 0.0, [f"{n}: {why}" for n, why in red.items()])
        spark.catalog.clearCache()
        for name, q in queries.items():
            t = time.perf_counter()
            with tracer.span("queries.build", query=name):
                df = _try(op, lambda: q.spark(spark, sf_dir))
            if df is not None:
                with tracer.span("queries.action", query=name):
                    _try(op, lambda: df.write.mode("overwrite").format("noop").save())
            dt = time.perf_counter() - t
            op.wall_s += dt
            per_query[name].append(dt)
            run.calls.append(dt)
        run.ops.append(op)
    run.inputs["per_query_s"] = {n: statistics.median(v) for n, v in per_query.items()}
    return run


WORKLOADS = {"incremental_delta": incremental_delta, "query_suite": query_suite}
PRIMARY = {"incremental_delta": "delta", "query_suite": "pass"}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    )


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
