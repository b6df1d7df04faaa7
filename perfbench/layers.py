"""Per-layer metrics of a traced run, named after the package modules.

``incremental_delta`` reports the median over its delta cycles (the ops
``freshness_s`` times) and ``query_suite`` per-pass totals of the
``queries`` and ``functions`` layers. Both report every name; a layer
the workload leaves idle reports 0.
"""

from __future__ import annotations

import os
import statistics

from perfbench import trace
from perfbench.workloads import PRIMARY

MODELS = [
    "stg_alphavantage", "dim_stock", "fact_stock_prices",
    "agg_weekly_prices", "agg_weekly_ohlc",
]
MODEL_FIELDS = {
    "wall_s": "s", "self_s": "s", "exec_run_s": "s", "tasks": "count",
    "output_files": "count", "output_bytes": "bytes", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}
# ROADMAP item 1: queries whose build/action split was an open question
QUESTIONS = ["paragraph_simhash_near_dups", "t_closeness_check", "containment_excerpt_dups"]

PIPELINE = {
    "sources.json_scan_run_s": "s",
    "sources.json_scan_tasks": "count",
    "sources.landing_bytes": "bytes",
    "merge.bronze_wall_s": "s",
    "merge.bronze_bytes_read": "bytes",
    "merge.bronze_bytes_written": "bytes",
    **{f"runner.{m}.{f}": u for m in MODELS for f, u in MODEL_FIELDS.items()},
    "qc.wall_s": "s",
    "qc.jobs": "count",
    "qc.exec_run_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.backfill_s": "s",
    "streaming.backfill_batches": "count",
    "streaming.bronze_rewrite_ratio": "ratio",
}
QUERIES = {
    "queries.build_s": "s",
    "queries.action_s": "s",
    "queries.jobs_in_build": "count",
    "queries.self_s": "s",
    "queries.exec_run_s": "s",
    "queries.single_task_stage_share": "ratio",
    "queries.shuffle_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    **{f"queries.{q}.{part}_s": "s" for q in QUESTIONS for part in ("build", "action")},
    "functions.python_rows": "count",
    "functions.python_bytes_out": "bytes",
    "functions.python_bytes_in": "bytes",
}
# every workload reports every name; a layer it leaves idle reports 0
NAMES = {
    "session.start_s": "s",
    **PIPELINE,
    **QUERIES,
    "trace.op_s": "s",
    "trace.call_geomean_s": "s",
    "trace.setup_s": "s",
    "trace.spans": "count",
    "trace.spans_unreconciled_10pct": "count",
    "trace.max_residual_share": "ratio",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(workload: str, run, tracer, work: str, session_s: float, e2e: dict) -> dict:
    log = trace.parse_event_log(trace.find_event_log(os.path.join(work, "events")))
    spans = tracer.spans
    trace.span_metrics(spans, log)
    v: dict[str, float] = {k: 0.0 for k in NAMES}
    v["session.start_s"] = session_s
    for k, (value, _) in e2e.items():
        v[f"trace.{k}"] = value
    v["trace.spans"] = len(spans)
    v["trace.spans_unreconciled_10pct"] = sum(1 for s in spans if not s.metrics["reconciled"])
    v["trace.max_residual_share"] = max(
        (_ratio(s.metrics["residual_s"], s.metrics["wall_s"]) for s in spans
         if s.metrics["wall_s"] > trace.RECONCILE_FLOOR_S),
        default=0.0,
    )
    if workload == "query_suite":
        _queries(v, spans, max(1, len(run.ops)))
    else:
        _pipeline(v, run, spans, tracer.batches)
    return {k: {"value": v[k], "unit": u} for k, u in NAMES.items()}


def _pipeline(v: dict, run, spans: list, batches: list) -> None:
    kind = PRIMARY["incremental_delta"]
    children: dict[str, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def under(span, prefix):
        out = []
        for c in children.get(span.id, []):
            if c.name.startswith(prefix):
                out.append(c)
            out += under(c, prefix)
        return out

    op_spans = [s for s in spans if s.name == "op" and s.attrs.get("kind") == kind]
    ops = [o for o in run.ops if o.kind == kind]
    per_op: dict[str, list[float]] = {k: [] for k in PIPELINE}
    for span, op in zip(op_spans, ops):
        m = span.metrics
        row = {
            "sources.json_scan_run_s": m["json_scan_run_s"],
            "sources.json_scan_tasks": m["json_scan_tasks"],
        }
        bronze = under(span, "merge.raw_alphavantage")
        row["merge.bronze_wall_s"] = sum(b.metrics["wall_s"] for b in bronze)
        row["merge.bronze_bytes_read"] = sum(b.metrics["input_bytes"] for b in bronze)
        row["merge.bronze_bytes_written"] = sum(b.attrs.get("bytes", 0) for b in bronze)
        for model in MODELS:
            for s in under(span, f"runner.{model}"):
                sm = s.metrics
                row.update(
                    {
                        f"runner.{model}.wall_s": sm["wall_s"],
                        f"runner.{model}.self_s": sm["self_s"],
                        f"runner.{model}.exec_run_s": sm["exec_run_s"],
                        f"runner.{model}.tasks": sm["tasks"],
                        f"runner.{model}.output_files": s.attrs.get("files", 0),
                        f"runner.{model}.output_bytes": s.attrs.get("bytes", 0),
                        f"runner.{model}.shuffle_bytes": sm["shuffle_bytes"],
                        f"runner.{model}.spill_bytes": sm["spill_bytes"],
                    }
                )
        for s in under(span, "qc."):
            row.update(
                {"qc.wall_s": s.metrics["wall_s"], "qc.jobs": s.metrics["jobs"],
                 "qc.exec_run_s": s.metrics["exec_run_s"]}
            )
        landed = op.attrs["delta_bytes"]
        row["sources.landing_bytes"] = landed
        mine = [b for b in batches if span.start <= b["ts"] <= span.end]
        row["streaming.batches"] = len(mine)
        row["streaming.input_rows"] = sum(b["input_rows"] for b in mine)
        row["streaming.add_batch_s"] = sum(b["add_batch_s"] for b in mine)
        row["streaming.bronze_rewrite_ratio"] = _ratio(row["merge.bronze_bytes_written"], landed)
        for k, x in row.items():
            per_op[k].append(x)
    for k, xs in per_op.items():
        if xs:
            v[k] = _median(xs)
    v["streaming.backfill_s"] = run.setup_parts.get("backfill_s", 0.0)
    backfill = [s for s in spans if s.name == "setup.backfill"]
    v["streaming.backfill_batches"] = sum(
        1 for b in batches for s in backfill if s.start <= b["ts"] <= s.end
    )


def _queries(v: dict, spans: list, passes: int) -> None:
    builds = [s for s in spans if s.name == "queries.build"]
    actions = [s for s in spans if s.name == "queries.action"]
    both = builds + actions
    total = lambda ss, k: sum(s.metrics[k] for s in ss)  # noqa: E731
    stages = total(both, "stages")
    v.update(
        {
            "queries.build_s": total(builds, "wall_s") / passes,
            "queries.action_s": total(actions, "wall_s") / passes,
            "queries.jobs_in_build": total(builds, "jobs") / passes,
            "queries.self_s": total(both, "self_s") / passes,
            "queries.exec_run_s": total(both, "exec_run_s") / passes,
            "queries.single_task_stage_share": _ratio(total(both, "single_task_stages"), stages),
            "queries.shuffle_bytes": total(both, "shuffle_bytes") / passes,
            "queries.spill_bytes": total(both, "spill_bytes") / passes,
            "functions.python_rows": total(both, "python_rows") / passes,
            "functions.python_bytes_out": total(both, "python_bytes_out") / passes,
            "functions.python_bytes_in": total(both, "python_bytes_in") / passes,
        }
    )
    for q in QUESTIONS:
        for part, ss in (("build", builds), ("action", actions)):
            v[f"queries.{q}.{part}_s"] = _median(
                [s.metrics["wall_s"] for s in ss if s.attrs.get("query") == q]
            )
