"""Every registry query vs its DuckDB oracle at sf0.001 — the pytest
form of tools/check_oracle.py (the driver gate runs at sf0.01) — and
the registry-wide plan gate over the same frames: no
``CartesianProduct`` (an unconditioned all-pairs join) and no
``BatchEvalPython`` (a row-at-a-time Python UDF; Python must be
Arrow-batched) in the physical plan, unless
tools/plan_audit.ALLOWED_ANTIPATTERNS names the query."""

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import all_queries
from market_pulse_data_pipeline_spark.schemas import TESTDATA_TABLES

import pathlib
import sys
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
from tools.check_oracle import frame_fingerprint  # noqa: E402
from tools.plan_audit import ALLOWED_ANTIPATTERNS  # noqa: E402

# Each frame is built once per session and shared by both tests below:
# several queries execute during construction (streaming witnesses,
# codebook training), so a second build would double their cost, and
# the plan test then reads the plan the oracle test already executed.
_FRAMES = {}


def _frame(spark, sf_dir, name):
    if name not in _FRAMES:
        _FRAMES[name] = all_queries()[name].spark(spark, sf_dir)
    return _FRAMES[name]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(all_queries().keys()))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = all_queries()[name]
    sdf = _frame(spark, sf_dir, name)
    s_fp = frame_fingerprint(sdf.columns, [tuple(r) for r in sdf.collect()])
    if q.oracle is None:
        assert s_fp[0] > 0, f"rows-only query {name} returned 0 rows"
        return
    cur = duck.execute(q.oracle)
    cols = [d[0] for d in cur.description]
    o_fp = frame_fingerprint(cols, cur.fetchall())
    assert s_fp == o_fp, f"{name}: spark={s_fp} oracle={o_fp}"


@pytest.mark.parametrize(
    "name", sorted(n for n in all_queries() if n not in ALLOWED_ANTIPATTERNS)
)
def test_no_plan_antipatterns(spark, sf_dir, name):
    plan = _frame(spark, sf_dir, name)._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
