"""Semantic pins for the round-25-batch operators
(queries/r25_staging.py). Oracle parity is covered by
tests/test_queries_oracle.py; this file keeps the invariants the
value-hash can't express: a pure-python replay of the harmonic packing
assignment plus its no-overflow / optimal-bins-per-class algebra, a
pure-python replay of the doubled-space replace chain (with the
adjacency and nested-phrase properties that justify the construction,
engine-free), and the adaptive prefix-sum switch's branch equivalence
(forcing the OTHER branch on the same input must produce identical
rows) plus the non-vacuousness of the mode rule at the fixture SF."""

import hashlib
import math
from decimal import Decimal

import duckdb
import pytest

from market_pulse_data_pipeline_spark.functions.prefix import (
    PREFIX_SERIAL_MAX_ROWS,
)
from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r25_staging import (
    _FT_PHRASES,
    _HP_CAP,
    _ft_pat,
    _ft_rep,
)

R25_NAMES = [
    "harmonic_size_class_packing",
    "flashtext_multi_replace",
    "prefix_sum_adaptive_switch",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R25_NAMES}


def test_r25_staging_composition():
    assert set(R25_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R25_NAMES)


@pytest.mark.parametrize("name", R25_NAMES)
def test_r25_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


def _docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, lang, text FROM "
        f"'{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


# --------------------------------------------------------------------
# harmonic_size_class_packing
# --------------------------------------------------------------------


def _harmonic_replay(docs):
    """Pure-python harmonic assignment: class k = CAP div len; within
    (lang, k) rank by (len DESC, doc_id); bin = (rank-1) div k."""
    by_class: dict = {}
    for doc_id, lang, text in docs:
        n = len(text.split(" "))
        # oversize docs (n > CAP) route to a dedicated class-1 bin
        # (negative slack = truncation debt); fixture never exercises
        # it, but the replay mirrors the shipping rule
        k = max(_HP_CAP // n, 1)
        by_class.setdefault((lang, k), []).append((n, doc_id))
    out = {}
    for (lang, k), items in by_class.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        for rank0, (n, doc_id) in enumerate(items):
            out[doc_id] = (lang, n, k, rank0 // k)
    return out


def test_harmonic_replay_matches_spark(spark, sf_dir):
    expect = _harmonic_replay(_docs(sf_dir))
    rows = QUERIES["harmonic_size_class_packing"].spark(
        spark, sf_dir
    ).collect()
    assert len(rows) == len(expect)
    fills: dict = {}
    for r in rows:
        lang, n, k, b = expect[r.doc_id]
        assert (r.lang, r.n_tokens, r.size_class, r.bin_idx) == (
            lang,
            n,
            k,
            b,
        )
        fills.setdefault((lang, k, b), [0, 0])
        fills[(lang, k, b)][0] += n
        fills[(lang, k, b)][1] += 1
    for r in rows:
        fill, cnt = fills[(r.lang, r.size_class, r.bin_idx)]
        assert r.bin_fill == fill
        assert r.bin_slack == _HP_CAP - fill
        assert r.full_bin == (1 if cnt == r.size_class else 0)


def test_harmonic_no_overflow_and_optimal_bins(spark, sf_dir):
    rows = QUERIES["harmonic_size_class_packing"].spark(
        spark, sf_dir
    ).collect()
    # the no-overflow proof in the compared bytes: k items of length
    # <= CAP/k can never exceed CAP
    assert all(r.bin_fill <= _HP_CAP for r in rows)
    assert all(r.bin_slack >= 0 for r in rows)
    # ceil(n/k) bins per (lang, class) — optimal within the class
    per_class: dict = {}
    for r in rows:
        key = (r.lang, r.size_class)
        n, bins = per_class.get(key, (0, 0))
        per_class[key] = (n + 1, max(bins, r.bin_idx + 1))
    for (lang, k), (n, bins) in per_class.items():
        assert bins == math.ceil(n / k), (lang, k)
    # multiple size classes exist (the fixture spans 10..99 tokens),
    # otherwise the classification is vacuous
    assert len({k for (_, k) in per_class}) >= 3


# --------------------------------------------------------------------
# flashtext_multi_replace
# --------------------------------------------------------------------


def _ft_replay(text):
    """Pure-python replay of the doubled-space replace chain."""
    s = " " + text.replace(" ", "  ") + " "
    counts = []
    for i, p in enumerate(_FT_PHRASES):
        pat, rep = _ft_pat(p), _ft_rep(i)
        before = len(s)
        s = s.replace(pat, rep)
        counts.append((before - len(s)) // (len(pat) - len(rep)))
    out = " ".join(tok for tok in s.split(" ") if tok)
    return counts, out


def test_flashtext_replay_matches_spark(spark, sf_dir):
    docs = {d: t for d, _, t in _docs(sf_dir)}
    rows = QUERIES["flashtext_multi_replace"].spark(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    total = 0
    for r in rows:
        counts, out = _ft_replay(docs[r.doc_id])
        assert [r.n_p0, r.n_p1, r.n_p2, r.n_p3, r.n_p4] == counts
        assert r.total_repl == sum(counts)
        assert r.out_len == len(out)
        assert r.out_md5 == hashlib.md5(out.encode()).hexdigest()
        total += r.total_repl
    # non-vacuous: the fixture vocabulary fires every phrase
    assert total > 0
    per_phrase = [
        sum(getattr(r, f"n_p{i}") for r in rows) for i in range(5)
    ]
    assert all(c > 0 for c in per_phrase), per_phrase


def test_flashtext_adjacency_property():
    # adjacent occurrences cannot steal each other's delimiter: the
    # doubled-space construction leaves each occurrence its own
    # boundary space — the naive single-space form misses the second
    # occurrence (its leading space was consumed by the first match)
    p = _FT_PHRASES[3]  # 'hash join'
    text = f"x {p} {p} x"
    counts, out = _ft_replay(text)
    assert counts[3] == 2
    assert out == "x __E3__ __E3__ x"
    naive = (" " + text + " ").replace(" " + p + " ", " __E3__ ")
    assert naive.count("__E3__") == 1  # the bug the doubling fixes


def test_flashtext_nested_phrase_longest_wins():
    # 'merge part window' (phrase 0) consumes its tokens before
    # 'part window' (phrase 1) runs; a standalone 'part window'
    # elsewhere still fires
    text = "merge part window then part window"
    counts, out = _ft_replay(text)
    assert counts[0] == 1 and counts[1] == 1
    assert out == "__E0__ then __E1__"
    # token alignment: a superstring token must NOT match
    counts2, out2 = _ft_replay("xtable scan hash joins")
    assert counts2[2] == 0 and counts2[3] == 0
    assert out2 == "xtable scan hash joins"


# --------------------------------------------------------------------
# prefix_sum_adaptive_switch
# --------------------------------------------------------------------


def test_adaptive_switch_modes_follow_the_rule(spark, sf_dir):
    rows = QUERIES["prefix_sum_adaptive_switch"].spark(
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
