"""As-of join and bucketed range join — edge semantics on handcrafted
frames (the registered queries carry the DuckDB oracle at scale)."""

import duckdb
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.operators.asof import (
    asof_join,
    range_join_buckets,
)
from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.asof import (
    _GR_AX,
    _GR_AY,
    _GR_BY,
    _GR_MOD,
    _GR_R,
)


def _left(spark):
    return spark.createDataFrame(
        [(1, 5, "e1"), (1, 10, "e2"), (1, 20, "e3"), (2, 7, "e4")],
        "k bigint, t bigint, name string",
    )


def _right(spark):
    return spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (3, 1, 999.0)],
        "k bigint, t bigint, v double",
    )


def test_asof_backward_inclusive(spark):
    out = {
        r.name: (r.asof_t, r.asof_v)
        for r in asof_join(
            _left(spark),
            _right(spark),
            key="k",
            left_time="t",
            right_time="t",
            payload_cols=["t", "v"],
        ).collect()
    }
    # e1 at t=5: no right row at or before → NULL
    assert out["e1"] == (None, None)
    # e2 at t=10: right row AT t=10 matches (inclusive)
    assert out["e2"] == (10, 100.0)
    # e3 at t=20: latest right row before is t=15
    assert out["e3"] == (15, 150.0)
    # key 2 has no right rows at all
    assert out["e4"] == (None, None)


def test_asof_left_rows_preserved(spark):
    out = asof_join(
        _left(spark),
        _right(spark),
        key="k",
        left_time="t",
        right_time="t",
        payload_cols=["v"],
    )
    assert out.count() == 4
    assert set(out.columns) == {"k", "t", "name", "asof_v"}


def test_range_join_buckets_matches_predicate_join(spark):
    points = spark.createDataFrame(
        [(i, float(i * 7 % 100)) for i in range(200)], "pid bigint, x double"
    )
    intervals = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 5.0, 35.0), (3, 90.0, 100.0), (4, 50.0, 50.0)],
        "iid bigint, s double, e double",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join_buckets(points, intervals, "x", "s", "e", 10).collect()
    }
    want = {
        (r.pid, r.iid)
        for r in points.join(
            intervals, (F.col("x") >= F.col("s")) & (F.col("x") < F.col("e"))
        ).collect()
    }
    assert got == want and got  # identical and non-empty
    # empty interval [50, 50) matches nothing
    assert not any(i == 4 for _, i in got)


# --------------------------------------------------------------------
# grid_radius_join
# --------------------------------------------------------------------


def test_grid_join_exactly_matches_brute_force(spark, sf_dir):
    """The cover property (cell size == R => 3x3 neighborhood covers
    the radius) means NO false negatives; the build side's single
    true cell means NO duplicates. Brute force is the ground truth."""
    got = [
        (r.id_a, r.id_b, r.dist_sq)
        for r in QUERY_REGISTRY["grid_radius_join"].spark(spark, sf_dir).collect()
    ]
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    pts = {
        i: ((i * _GR_AX) % _GR_MOD, (i * _GR_AY + _GR_BY) % _GR_MOD)
        for i in ids
    }
    brute = []
    items = sorted(pts.items())
    for i, (a, (xa, ya)) in enumerate(items):
        for b, (xb, yb) in items[i + 1 :]:
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= _GR_R * _GR_R:
                brute.append((a, b, d2))
    assert sorted(got) == sorted(brute)
    assert len(got) == len(set((a, b) for a, b, _ in got))  # exactly once
    assert brute, "fixture yields no pairs within R — witness is vacuous"
