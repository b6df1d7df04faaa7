"""Semantic pins for the queries/analytics.py rows: pure-Python replays,
planted-witness contracts and fixture guards that the value-hash
compare in tests/test_queries_oracle.py can't express."""

from decimal import ROUND_HALF_UP, Decimal

import duckdb

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.analytics import (
    _EH_BUCKETS,
    _JS_PATHS,
    _SN_DAY_US,
    _SN_LAG,
)


# --------------------------------------------------------------------
# equi_depth_histogram_stats
# --------------------------------------------------------------------


def test_histogram_replay_and_monotonicity(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["equi_depth_histogram_stats"].spark(spark, sf_dir).collect()
    )
    ev = duckdb.sql(
        f"SELECT event_type, event_id, value FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_type: dict[str, list] = {}
    for et, eid, v in ev:
        by_type.setdefault(et, []).append((v, eid))
    expect = {}
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        base, extra = divmod(n, _EH_BUCKETS)
        i = 0
        for b in range(1, _EH_BUCKETS + 1):
            size = base + (1 if b <= extra else 0)
            chunk = vals[i : i + size]
            i += size
            if chunk:
                expect[(et, b)] = (
                    len(chunk),
                    chunk[0][0],
                    chunk[-1][0],
                )
    got = {
        (r.event_type, r.bucket): (r.n_rows, r.min_value, r.max_value)
        for r in rows
    }
    assert got == expect
    # equi-depth boundary monotonicity: bucket k's min never precedes
    # bucket k-1's max (ties allowed — equal values can straddle)
    by_et: dict[str, list] = {}
    for r in rows:
        by_et.setdefault(r.event_type, []).append(r)
    for et, rs in by_et.items():
        rs.sort(key=lambda r: r.bucket)
        for a, b in zip(rs, rs[1:]):
            assert a.max_value <= b.min_value, (et, b.bucket)
            assert a.min_value <= a.max_value


def _round_div(n: int, d: int) -> float:
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
        .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


# --------------------------------------------------------------------
# json_schema_infer
# --------------------------------------------------------------------


def _expected_class(residue: int, path: str) -> str:
    if path == "$.extra.v":
        return "int" if residue == 4 else "missing"
    return {
        0: "int",
        1: "string",
        2: "float",
        3: "bool",
        4: "int",
        5: "missing",
    }[residue]


def test_json_infer_replay_exact(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["json_schema_infer"].spark(spark, sf_dir).collect()
    )
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT event_id FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    expect: dict[tuple[str, str], int] = {}
    for eid in ids:
        for p in _JS_PATHS:
            k = (p, _expected_class(eid % 6, p))
            expect[k] = expect.get(k, 0) + 1
    got = {(r.path, r.type_class): r.n_values for r in rows}
    assert got == expect
    n = len(ids)
    for r in rows:
        assert abs(r.fraction - _round_div(r.n_values, n)) < 1e-9
    # every class is exercised somewhere, including the nested path's
    # missing/int split
    classes = {r.type_class for r in rows}
    assert classes == {"missing", "int", "float", "bool", "string"}
    assert ("$.extra.v", "int") in got and ("$.extra.v", "missing") in got


# --------------------------------------------------------------------
# seasonal_naive_backtest
# --------------------------------------------------------------------


def test_backtest_replay_exact(spark, sf_dir):
    rows = {
        r.event_type: r
        for r in QUERY_REGISTRY["seasonal_naive_backtest"]
        .spark(spark, sf_dir)
        .collect()
    }
    ev = duckdb.sql(
        f"SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)), value "
        f"FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    daily: dict[tuple[str, int], Decimal] = {}
    for et, us, v in ev:
        key = (et, us // _SN_DAY_US)
        daily[key] = daily.get(key, Decimal(0)) + Decimal(repr(v)).quantize(
            Decimal("0.000001")
        )
    per_type: dict[str, list] = {}
    n_days: dict[str, int] = {}
    for (et, day), actual in daily.items():
        n_days[et] = n_days.get(et, 0) + 1
        prev = daily.get((et, day - _SN_LAG))
        if prev is not None:
            a = per_type.setdefault(et, [0, Decimal(0), Decimal(0)])
            a[0] += 1
            a[1] += abs(actual - prev)
            a[2] += actual - prev
    assert set(rows) == set(per_type)
    for et, (n_eval, abs_err, err) in per_type.items():
        r = rows[et]
        assert (r.n_days, r.n_eval) == (n_days[et], n_eval), et
        assert abs(r.mae - _round_div(abs_err, n_eval)) < 1e-9, et
        assert abs(r.bias - _round_div(err, n_eval)) < 1e-9, et
        # |bias| <= mae (triangle inequality on the same samples) and
        # coverage can never exceed the observed days
        assert abs(r.bias) <= r.mae + 1e-9 and r.n_eval <= r.n_days
