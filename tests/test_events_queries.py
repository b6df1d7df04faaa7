"""Semantic pins for the queries/events.py rows: pure-Python replays,
planted-witness contracts and fixture guards that the value-hash
compare in tests/test_queries_oracle.py can't express."""

from decimal import ROUND_HALF_UP, Decimal

import duckdb

from market_pulse_data_pipeline_spark.functions.prefix import (
    PREFIX_SERIAL_MAX_ROWS,
)
from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.events import (
    _DF_CAP,
    _DF_DAY_US,
    _IS_GAP_US,
)


# --------------------------------------------------------------------
# incremental_sessionization
# --------------------------------------------------------------------


def _full_sessions(sf_dir: str):
    rows = duckdb.sql(
        f"SELECT user_id, event_id, "
        f"epoch_us(CAST(ts AS TIMESTAMP)) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    lo = min(r[2] for r in rows)
    hi = max(r[2] for r in rows)
    split = (lo + hi) // 2
    by_user: dict[int, list] = {}
    for u, e, t_ in rows:
        by_user.setdefault(u, []).append((t_, e))
    sessions = []
    for u, evs in by_user.items():
        evs.sort()
        cur = [evs[0]]
        for t_, e in evs[1:]:
            if t_ - cur[-1][0] <= _IS_GAP_US:
                cur.append((t_, e))
            else:
                sessions.append((u, cur))
                cur = [(t_, e)]
        sessions.append((u, cur))
    return sessions, split


def test_incremental_matches_monolithic_replay(spark, sf_dir):
    got = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in QUERY_REGISTRY["incremental_sessionization"]
        .spark(spark, sf_dir)
        .collect()
    )
    sessions, _ = _full_sessions(sf_dir)
    expect = sorted(
        (u, s[0][0], s[-1][0], len(s)) for u, s in sessions
    )
    assert got == expect


def test_stitch_actually_exercised(spark, sf_dir):
    """The merge path must run on real boundary-spanning sessions —
    a split landing in a quiet gap would make the stitch vacuous and
    the oracle equality meaningless as a stitch witness (the reason
    this operator's gap is 12 h, not the interactive 30 min)."""
    sessions, split = _full_sessions(sf_dir)
    spanning = [
        (u, s)
        for u, s in sessions
        if s[0][0] < split <= s[-1][0]
    ]
    assert spanning, "no session spans the batch boundary"
    # and those sessions appear intact in the output (stitched, not
    # truncated at the boundary)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us)
        for r in QUERY_REGISTRY["incremental_sessionization"]
        .spark(spark, sf_dir)
        .collect()
    }
    for u, s in spanning:
        assert (u, s[0][0], s[-1][0]) in got


def _round_div(n: int, d: int) -> float:
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
        .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


# --------------------------------------------------------------------
# decayed_event_frequency
# --------------------------------------------------------------------


def test_decay_replay_exact(spark, sf_dir):
    rows = {
        r.event_type: r
        for r in QUERY_REGISTRY["decayed_event_frequency"]
        .spark(spark, sf_dir)
        .collect()
    }
    ev = duckdb.sql(
        f"SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    ref = max(us // _DF_DAY_US for _, us in ev)
    agg: dict[str, list[int]] = {}
    for et, us in ev:
        age = ref - us // _DF_DAY_US
        num = 1 << (_DF_CAP - min(age, _DF_CAP))
        a = agg.setdefault(et, [0, 0])
        a[0] += 1
        a[1] += num
    assert set(rows) == set(agg)
    for et, (n, num) in agg.items():
        r = rows[et]
        assert (r.n_events, r.decay_num) == (n, num), et
        assert abs(
            r.decayed_count - _round_div(num, 1 << _DF_CAP)
        ) < 1e-9, et
        # decay only shrinks: 0 < decayed <= raw count, and a type with
        # at least one same-day-as-ref event weighs >= 1
        assert 0 < r.decayed_count <= r.n_events


# --------------------------------------------------------------------
# prefix_sum_adaptive_switch
# --------------------------------------------------------------------


def test_adaptive_switch_modes_follow_the_rule(spark, sf_dir):
    rows = QUERY_REGISTRY["prefix_sum_adaptive_switch"].spark(
        spark, sf_dir
    ).collect()
    legs: dict = {}
    for r in rows:
        legs.setdefault(r.leg, []).append(r)
    n_a, n_b = len(legs["daily_rollup"]), len(legs["raw_events"])
    want_a = "serial" if n_a <= PREFIX_SERIAL_MAX_ROWS else "two_phase"
    want_b = "serial" if n_b <= PREFIX_SERIAL_MAX_ROWS else "two_phase"
    assert {r.mode for r in legs["daily_rollup"]} == {want_a}
    assert {r.mode for r in legs["raw_events"]} == {want_b}
    # the rollup leg is model-sized at every fixture SF — always serial
    assert want_a == "serial"
    # python decimal replay of the rollup leg's running totals
    a_sorted = sorted(legs["daily_rollup"], key=lambda r: r.ord_key)
    run = Decimal(0)
    ev = duckdb.sql(
        f"""
        SELECT event_type || '#' || CAST(
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
               AS VARCHAR) AS k, COUNT(*) AS c
        FROM '{sf_dir}/events.parquet' GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    assert [r.ord_key for r in a_sorted] == [k for k, _ in ev]
    for r, (_, c) in zip(a_sorted, ev):
        run += Decimal(c)
        assert Decimal(str(r.running)) == run


def test_adaptive_switch_branches_are_equivalent(spark, sf_dir):
    # force BOTH branches on the same frame: serial_max_rows=0 routes
    # two-phase, a huge threshold routes serial — identical rows
    from pyspark.sql import functions as F

    from market_pulse_data_pipeline_spark.functions.prefix import (
        adaptive_prefix_sum,
    )
    from market_pulse_data_pipeline_spark.queries.common import t

    ev = t(spark, sf_dir, "events").select("event_id", "value")
    serial_df, serial_mode = adaptive_prefix_sum(
        ev, ["event_id"], F.col("value"), serial_max_rows=10**9
    )
    two_df, two_mode = adaptive_prefix_sum(
        ev, ["event_id"], F.col("value"), serial_max_rows=0
    )
    assert (serial_mode, two_mode) == ("serial", "two_phase")
    pick = lambda df: sorted(  # noqa: E731
        (r.event_id, str(r.running_total)) for r in df.collect()
    )
    assert pick(serial_df) == pick(two_df)
