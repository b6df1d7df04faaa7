"""Benchmark entry point.

    python3 perfbench/run.py --workload <incremental_delta|query_suite>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs
from the seed under ``.perfbench_work/``, drives the program only
through its public functions, checks every op's output, and prints one
detail line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
event log, spans and the streaming listener and reports the per-layer
metrics instead. It exits non-zero without a result when the program is
not there to measure.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DRIVER_MEMORY = "3g"


def load_probe() -> float:
    """``bench.py``'s fixed single-threaded spin loop: the wall time of
    constant work measures ambient contention."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i & 0xFFFF
    return time.perf_counter() - t0


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
    )
    return out.stdout.strip() or None


def source_digest() -> str:
    """sha256 over the package's Python sources, for checkouts without git."""
    import hashlib  # noqa: PLC0415

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "market_pulse_data_pipeline_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, n), ROOT).encode())
                with open(os.path.join(d, n), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def start_spark(work: str, trace: bool):
    from market_pulse_data_pipeline_spark.session import get_spark  # noqa: PLC0415

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                # zstd (the default codec) needs the zstandard module to read back
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import market_pulse_data_pipeline_spark as program  # noqa: PLC0415
        from perfbench import workloads  # noqa: PLC0415
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_WAREHOUSE_DIR": os.path.join(work, "spark-warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    try:
        return measure(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it


def measure(args, work: str, cpus: int) -> int:
    from perfbench import layers, workloads  # noqa: PLC0415

    probe = load_probe()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t
        tracer = workloads.NO_TRACE
        if args.trace:
            from perfbench.trace import Tracer  # noqa: PLC0415

            tracer = Tracer(spark)
            tracer.install()
        run = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
        env = {
            "master": spark.sparkContext.master,
            "cpus": cpus,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": __import__("pyspark").__version__,
            "duckdb": __import__("duckdb").__version__,
            "python": sys.version.split()[0],
            "git_commit": git_commit(),
            "source_sha256": source_digest(),
        }
        if args.trace:
            tracer.settle_listener()
            tracer.uninstall()
    finally:
        if spark is not None:
            stop_spark(spark)

    failed = sum(1 for o in run.ops if o.problems)
    enough = len(run.ops) >= workloads.MIN_OPS[args.workload]
    e2e = run.end_to_end(args.workload, session_s)
    if args.trace:
        metrics = layers.per_layer(args.workload, run, tracer, work, session_s, e2e)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    detail = {
        "detail": "perfbench",
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "inputs": run.inputs,
        "load_probe_s": probe,
        "session_start_s": session_s,
        "setup_parts_s": run.setup_parts,
        "named_metrics": run.named(args.workload),
        "stream_batches": getattr(tracer, "batches", []),
        "spans": [
            {"name": s.name, "id": s.id, "parent": s.parent, **s.attrs, **s.metrics}
            for s in getattr(tracer, "spans", [])
        ],
        "ops": [
            {"kind": o.kind, "wall_s": o.wall_s, "problems": o.problems, **o.attrs}
            for o in run.ops
        ],
    }
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0 and enough,
                "attempted": len(run.ops),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
