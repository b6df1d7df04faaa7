"""Semantic pins for the round-14 registrations, third batch
(queries/r22_staging.py — staged in round 11 as the second reserve,
flipped to @register in round 14 under VERDICT round-13 item 1's full
drain). Oracle parity is covered by the registry-wide
tools/check_oracle.py sweep; this file keeps the invariants the
value-hash can't express: the grid join's exactly-once/no-false-
negative contract against a brute-force replay, the backtest's
decimal algebra and coverage bounds, and the gazetteer's
rarest-anchor choice and token-aligned match replay."""

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r22_staging import (
    _GR_AX,
    _GR_AY,
    _GR_BY,
    _GR_MOD,
    _GR_R,
    _GZ_PHRASES,
    _SN_DAY_US,
    _SN_LAG,
)

R22_NAMES = [
    "grid_radius_join",
    "seasonal_naive_backtest",
    "gazetteer_phrase_match",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R22_NAMES}


def _round_div(n, d) -> float:
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
        .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def test_r22_registration_composition():
    assert set(R22_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R22_NAMES)


@pytest.mark.parametrize("name", R22_NAMES)
def test_r22_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    # the whole point of the grid join is that the radius predicate
    # NEVER plans as a cross product
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# grid_radius_join
# --------------------------------------------------------------------


def test_grid_join_exactly_matches_brute_force(spark, sf_dir):
    """The cover property (cell size == R => 3x3 neighborhood covers
    the radius) means NO false negatives; the build side's single
    true cell means NO duplicates. Brute force is the ground truth."""
    got = [
        (r.id_a, r.id_b, r.dist_sq)
        for r in QUERIES["grid_radius_join"].spark(spark, sf_dir).collect()
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


# --------------------------------------------------------------------
# seasonal_naive_backtest
# --------------------------------------------------------------------


def test_backtest_replay_exact(spark, sf_dir):
    rows = {
        r.event_type: r
        for r in QUERIES["seasonal_naive_backtest"]
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


# --------------------------------------------------------------------
# gazetteer_phrase_match
# --------------------------------------------------------------------


def _gz_replay(sf_dir: str):
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    df: dict[str, int] = {}
    for _, text in docs:
        for tok in set(text.split(" ")):
            df[tok] = df.get(tok, 0) + 1
    out = {}
    for p in _GZ_PHRASES:
        ptoks = p.split(" ")
        # anchor = argmin by (df, token, offset) — the deterministic
        # rarest-token rule both engines implement
        anchor_off, anchor_tok = min(
            enumerate(ptoks), key=lambda kv: (df[kv[1]], kv[1], kv[0])
        )
        n_cand = n_match = 0
        docs_matched = set()
        for doc_id, text in docs:
            ws = text.split(" ")
            for pos, tok in enumerate(ws):
                if tok == anchor_tok and pos - anchor_off >= 0:
                    n_cand += 1
                    start = pos - anchor_off
                    if ws[start : start + len(ptoks)] == ptoks:
                        n_match += 1
                        docs_matched.add(doc_id)
        out[p] = (anchor_tok, df[anchor_tok], n_cand, n_match,
                  len(docs_matched))
    return out


def test_gazetteer_replay_exact(spark, sf_dir):
    rows = {
        r.phrase: r
        for r in QUERIES["gazetteer_phrase_match"]
        .spark(spark, sf_dir)
        .collect()
    }
    expect = _gz_replay(sf_dir)
    assert set(rows) == set(expect)
    for p, (atok, adf, n_cand, n_match, n_docs) in expect.items():
        r = rows[p]
        assert (
            r.anchor_tok,
            r.anchor_df,
            r.n_candidates,
            r.n_matches,
            r.n_docs_matched,
        ) == (atok, adf, n_cand, n_match, n_docs), p
        # the anchor funnel: candidates bound matches, matches exist
        assert r.n_candidates >= r.n_matches
        assert r.n_matches > 0, f"{p}: phrase absent from fixture"
