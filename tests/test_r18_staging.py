"""Semantic pins for the round-13 registrations, third batch
(queries/r18_staging.py — staged in round 11, flipped to @register in
round 13 under VERDICT round-12 item 2's accelerated drain). Oracle
parity is covered by the registry-wide tools/check_oracle.py sweep;
this file keeps
the invariants the value-hash can't express: a pure-python replay of
the unicode fold chain with the no-op control, the MoR accounting
identity (live + deleted == total per file) plus the anti-join plan
shape, and the dynamicpruning expression actually present in the DPP
query's executed plan (the feature, not just the numbers)."""

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r18_staging import (
    _DPP_URGENT,
    _DV_DEL_MOD,
    _DV_FILES,
    _UN_MAP,
    _UN_SUFFIXES,
)

R18_NAMES = [
    "unicode_fold_normalize",
    "deletion_vector_scan",
    "dynamic_partition_pruning_join",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R18_NAMES}


def test_r18_registration_composition():
    assert set(R18_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R18_NAMES)


@pytest.mark.parametrize("name", R18_NAMES)
def test_r18_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# unicode_fold_normalize
# --------------------------------------------------------------------


def _fold(s: str) -> str:
    for src, dst in _UN_MAP:
        s = s.replace(src, dst)
    return s


@pytest.fixture(scope="module")
def un_rows(spark, sf_dir):
    return QUERIES["unicode_fold_normalize"].spark(spark, sf_dir).collect()


def test_unicode_replay_exact(un_rows, sf_dir):
    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    assert {r.doc_id for r in un_rows} == set(texts)
    for r in un_rows:
        raw = texts[r.doc_id] + _UN_SUFFIXES[r.doc_id % 5]
        norm = _fold(raw)
        assert r.n_chars_raw == len(raw), r.doc_id
        assert r.n_chars_norm == len(norm), r.doc_id
        assert (
            r.norm_md5 == hashlib.md5(norm.encode("utf-8")).hexdigest()
        ), r.doc_id
        assert r.changed == (norm != raw), r.doc_id


def test_unicode_rule_families_and_control(un_rows):
    """Residues 0-3 each plant one rule family (must change); residue 4
    is the ASCII control (must pass through byte-identical)."""
    by_res = {}
    for r in un_rows:
        by_res.setdefault(r.doc_id % 5, []).append(r)
    for v in range(4):
        assert by_res[v] and all(r.changed for r in by_res[v]), v
    assert by_res[4] and not any(r.changed for r in by_res[4])
    # every fold target is itself fold-stable (the chain is idempotent)
    for src, dst in _UN_MAP:
        assert _fold(dst) == dst, (src, dst)


# --------------------------------------------------------------------
# deletion_vector_scan
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def dv_rows(spark, sf_dir):
    return QUERIES["deletion_vector_scan"].spark(spark, sf_dir).collect()


def test_dv_replay_exact(dv_rows, sf_dir):
    rows = duckdb.sql(
        f"SELECT l_orderkey, l_linenumber, l_quantity FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    agg: dict[int, list] = {}
    for ok, ln, qty in rows:
        fid = ok % _DV_FILES
        a = agg.setdefault(fid, [0, 0, 0, Decimal(0)])
        a[0] += 1
        if (7 * ok + ln) % _DV_DEL_MOD == 0:
            a[1] += 1
        else:
            a[2] += 1
            a[3] += Decimal(repr(qty)).quantize(Decimal("0.01"))
    assert {r.file_id for r in dv_rows} == set(agg)
    for r in dv_rows:
        n_total, n_deleted, n_live, qty = agg[r.file_id]
        assert (r.n_total, r.n_deleted, r.n_live) == (
            n_total,
            n_deleted,
            n_live,
        ), r.file_id
        expect_qty = float(
            qty.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        )
        assert abs(r.live_qty_sum - expect_qty) < 1e-9, r.file_id


def test_dv_accounting_identity(dv_rows):
    """The MoR invariant a compaction scheduler relies on: every base
    row is exactly one of live / deleted, per file, and deletes exist
    (the DV is exercised, not vacuously empty)."""
    assert sum(r.n_deleted for r in dv_rows) > 0
    for r in dv_rows:
        assert r.n_live + r.n_deleted == r.n_total, r.file_id


def test_dv_read_is_an_anti_join(spark, sf_dir):
    """The read path must BE the DV shape — a broadcast anti-join on
    the row address — not a rewritten filter (that would witness
    copy-on-write, not merge-on-read)."""
    df = QUERIES["deletion_vector_scan"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------------------
# dynamic_partition_pruning_join
# --------------------------------------------------------------------


def test_dpp_expression_in_executed_plan(spark, sf_dir):
    """The witnessed FEATURE: the fact scan carries a dynamicpruning
    subquery (runtime partition pruning off the dimension filter) —
    only the urgent partitions' directories are listed."""
    df = QUERIES["dynamic_partition_pruning_join"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan


def test_dpp_values_match_direct_filter(spark, sf_dir):
    rows = (
        QUERIES["dynamic_partition_pruning_join"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert {r.o_orderpriority for r in rows} == set(_DPP_URGENT)
    expect = dict(
        duckdb.sql(
            f"""SELECT o_orderpriority, COUNT(*) FROM
            read_parquet('{sf_dir}/orders.parquet')
            WHERE o_orderpriority IN {_DPP_URGENT} GROUP BY 1"""
        ).fetchall()
    )
    for r in rows:
        assert r.n_orders == expect[r.o_orderpriority]
