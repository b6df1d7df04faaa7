"""Tests of the benchmark's own machinery: seeded inputs, the output
checks (a wrong hash must be caught), event-log attribution, and the
refusal to run without the program.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import check, landing, layers, tables, trace, workloads  # noqa: E402
from perfbench.check import ROOT  # noqa: E402


class FakeFrame:
    """The two DataFrame methods ``verify_pipeline`` uses, over Arrow."""

    def __init__(self, arrow):
        self.arrow = arrow

    def count(self):
        return self.arrow.num_rows

    def toArrow(self):  # noqa: N802 - DataFrame API
        return self.arrow


class FakeQC:
    def __init__(self, violations=0):
        self.test, self.table, self.columns = "not_null", "t", ("c",)
        self.passed = violations == 0


def _files(root):
    out = {}
    for n in sorted(os.listdir(root)):
        with open(os.path.join(root, n)) as f:
            out[n] = f.read()
    return out


def test_landing_is_seeded(tmp_path):
    a = landing.generate(str(tmp_path / "a"), 5, symbols=12, days=30)
    b = landing.generate(str(tmp_path / "b"), 5, symbols=12, days=30)
    c = landing.generate(str(tmp_path / "c"), 6, symbols=12, days=30)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert a.bytes == sum(len(t) for t in _files(tmp_path / "a").values())


def test_landing_has_the_api_quirks(tmp_path):
    land = landing.generate(str(tmp_path), 1, symbols=12, days=200)
    docs = [json.loads(t) for t in _files(tmp_path).values()]
    series = [d for d in docs if "Time Series (Daily)" in d]
    errors = [d for d in docs if "Time Series (Daily)" not in d]
    assert errors and len(series) == 12
    assert "BRK.B" in {d["Meta Data"]["2. Symbol"] for d in series}
    assert "BRK-B" in land.series
    bars = [b for d in series for b in d["Time Series (Daily)"].values()]
    assert any(b["1. open"] == "0.0" for b in bars)
    assert all(isinstance(v, str) for b in bars for v in b.values())
    assert all(len(d["Time Series (Daily)"]) < 200 for d in series)  # gap days


def test_redelivery_appends_and_revises(tmp_path):
    land = landing.generate(str(tmp_path), 1, symbols=3, days=20)
    before = dict(land.series["AAPL"])
    land.redeliver("AAPL")
    after = land.series["AAPL"]
    assert len(after) == len(before) + 1 and max(after) > max(before)
    assert sum(after[d] != before[d] for d in before) == 1
    assert os.path.exists(tmp_path / "AAPL__00002.json")


def _expected_frames(exp):
    frames = {name: FakeFrame(exp.con.execute(f"SELECT * FROM {name}").arrow())
              for name in landing.MARTS}
    n = exp.con.execute("SELECT count(*) FROM fact").fetchone()[0]
    rows = lambda k: FakeFrame(exp.con.execute(f"SELECT * FROM range({k})").arrow())  # noqa: E731
    frames.update(
        raw_alphavantage=rows(len(exp.landing.series)),
        dim_stock=rows(len(exp.landing.series)),
        stg_alphavantage=rows(n),
        fact_stock_prices=rows(n),
    )
    return frames


def test_verify_accepts_the_expected_output_and_catches_a_wrong_hash(tmp_path):
    exp = landing.Expected(landing.generate(str(tmp_path), 3, symbols=12, days=60))
    want = exp.marts()
    assert check.verify_pipeline(_expected_frames(exp), [FakeQC()], want) == []

    exp.con.execute(
        "UPDATE agg_weekly_prices SET avg_close = avg_close + 0.01 WHERE symbol = 'AAPL' "
        "AND week_start = (SELECT min(week_start) FROM agg_weekly_prices)"
    )
    problems = check.verify_pipeline(_expected_frames(exp), [FakeQC()], want)
    assert len(problems) == 1 and problems[0].startswith("agg_weekly_prices: value hash")

    exp.con.execute("DELETE FROM agg_weekly_ohlc WHERE symbol = 'MSFT'")
    problems = check.verify_pipeline(_expected_frames(exp), [FakeQC(violations=2)], want)
    assert any(p.startswith("agg_weekly_ohlc: ") for p in problems)
    assert any(p.startswith("QC not_null") for p in problems)


def test_value_hash_ignores_summation_noise_and_row_order():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE a AS SELECT * FROM (VALUES ('x', 1.0/3), ('y', -0.0)) t(k, v)")
    con.execute("CREATE TABLE b AS SELECT * FROM (VALUES ('y', 0.0), ('x', 0.3333333333333333 + 1e-15)) t(k, v)")
    con.execute("CREATE TABLE c AS SELECT * FROM (VALUES ('y', 0.0), ('x', 0.3333343)) t(k, v)")
    assert check.value_hash(con, "a") == check.value_hash(con, "b")
    assert check.value_hash(con, "a") != check.value_hash(con, "c")


def test_tables_have_the_fixture_schemas(tmp_path):
    import pyarrow.parquet as pq

    assert tables.write_tables(str(tmp_path / "a"), 1) > 0
    tables.write_tables(str(tmp_path / "b"), 1)
    for name in ["region", "nation", *tables.ROWS]:
        a, b = (pq.read_table(tmp_path / d / f"{name}.parquet") for d in "ab")
        assert a.equals(b), name
        assert a.num_rows == tables.ROWS.get(name, a.num_rows)
    # FIXTURES.md section B: types the queries and their oracles rely on
    types = {
        f.name: str(f.type)
        for name in ("orders", "lineitem", "events", "embeddings")
        for f in pq.read_schema(tmp_path / "a" / f"{name}.parquet")
    }
    assert types["o_orderdate"] == types["l_shipdate"] == types["ts"] == "timestamp[us]"
    assert types["l_linenumber"] == "int32" and types["l_orderkey"] == "int64"
    assert types["embedding"] == "list<element: float>"


def test_query_set_names_bench_queries_with_oracles():
    from market_pulse_data_pipeline_spark.queries import all_queries

    registry = all_queries()
    assert len(set(workloads.QUERY_SET)) == len(workloads.QUERY_SET)
    for name in workloads.QUERY_SET:
        assert registry[name].bench and registry[name].oracle, name
    assert set(layers.QUESTIONS) <= set(workloads.QUERY_SET)


def test_every_workload_reports_every_metric_in_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert [m["name"] for m in bench["per_layer"]] == list(layers.NAMES)
    run = workloads.Run(setup_parts={"generate_s": 0.5}, calls=[1.0, 4.0])
    run.ops = [workloads.Op("delta", 2.0), workloads.Op("pass", 3.0)]
    for name in workloads.WORKLOADS:
        e2e = run.end_to_end(name, session_s=1.5)
        assert list(e2e) == [m["name"] for m in bench["end_to_end"]]
        assert e2e["call_geomean_s"][0] == pytest.approx(2.0)
        assert e2e["setup_s"][0] == pytest.approx(2.0)


def _event_log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_span_attribution_and_reconciliation(tmp_path):
    def job(jid, start, end, stages, group=None):
        props = {"spark.jobGroup.id": group} if group else {}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
             "Stage IDs": stages, "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
        ]

    def stage(sid, start, end, tasks, run_ms, scope=""):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Stage Attempt ID": 0, "Number of Tasks": tasks,
            "Submission Time": start, "Completion Time": end,
            "RDD Info": [{"Scope": scope}],
            "Accumulables": [{"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": run_ms}]}}

    log = tmp_path / "app"
    _event_log(log, [
        *job(0, 1_000_100, 1_000_900, [0, 1], group="perfbench-1"),
        stage(0, 1_000_150, 1_000_500, 1, 300, '{"name":"Scan json "}'),
        stage(1, 1_000_500, 1_000_850, 4, 1200),
        # lists stage 1 again, which it skips: counted once, under job 0
        *job(2, 1_000_900, 1_000_950, [1, 3], group="perfbench-1"),
        stage(3, 1_000_905, 1_000_945, 1, 10),
        # no group: attributed to the innermost span open at submission
        *job(1, 1_001_200, 1_001_400, [2]),
        stage(2, 1_001_210, 1_001_390, 2, 200),
    ])
    outer = trace.Span("perfbench-0", "op", None, 1000.0, 1002.0)
    inner = trace.Span("perfbench-1", "merge.raw_alphavantage", "perfbench-0", 1000.05, 1001.0)
    trace.span_metrics([outer, inner], trace.parse_event_log(str(log)))
    m = inner.metrics
    assert m["jobs"] == 2 and m["stages"] == 3 and m["tasks"] == 6
    assert m["single_task_stages"] == 2
    assert m["exec_run_s"] == pytest.approx(1.51)
    assert m["json_scan_run_s"] == pytest.approx(0.3) and m["json_scan_tasks"] == 1
    assert m["self_s"] == pytest.approx(0.95 - 0.85)
    assert m["residual_s"] == pytest.approx(0.85 - 0.74) and m["reconciled"] is False
    o = outer.metrics
    assert o["jobs"] == 3 and o["exec_run_s"] == pytest.approx(1.71)
    assert o["self_s"] == pytest.approx(2.0 - 1.05)
    assert o["residual_s"] == pytest.approx(1.05 - 0.92) and o["reconciled"] is True


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "incremental_delta", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0 and out.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from market_pulse_data_pipeline_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = get_spark(app_name="perfbench-test")
    yield s
    s.stop()


def test_real_pipeline_output_passes_the_check(spark, tmp_path):
    from market_pulse_data_pipeline_spark.streaming.pipeline import run_incremental

    land = landing.generate(str(tmp_path / "land"), 4, symbols=12, days=40)
    exp = landing.Expected(land)
    args = (spark, land.root, str(tmp_path / "inc"), str(tmp_path / "ckpt"))
    assert check.verify_pipeline(*run_incremental(*args), exp.marts()) == []
    land.redeliver("MSFT")
    land.redeliver("BRK-B")
    land.land_error()
    exp.refresh(["MSFT", "BRK-B"])
    assert check.verify_pipeline(*run_incremental(*args), exp.marts()) == []
