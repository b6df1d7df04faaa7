"""The order of ``all_queries()``: derived from the committed
CORRECTNESS_r{N}.json driver results, never from a hand-kept list.
The synthetic result files below live in ``tmp_path``."""

import json

from market_pulse_data_pipeline_spark.queries import (
    QUERY_REGISTRY,
    all_queries,
    witness_order,
)

GREEN = {"hash_match": True, "err": None}
MISMATCH = {"hash_match": False, "err": None}
ERROR = {"hash_match": None, "err": "Py4JJavaError"}


def _write(root, rnd, rows):
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_never_witnessed_names_come_first_in_registration_order(tmp_path):
    _write(tmp_path, 1, {"a": GREEN, "b": GREEN})
    names = ["x", "a", "y", "b", "z"]
    assert witness_order(names, tmp_path) == ["x", "y", "z", "a", "b"]


def test_red_latest_row_sorts_with_the_never_witnessed(tmp_path):
    _write(tmp_path, 1, {"a": GREEN, "b": GREEN, "c": GREEN})
    _write(tmp_path, 2, {"b": MISMATCH, "c": ERROR})
    names = ["a", "new", "b", "c"]
    assert witness_order(names, tmp_path) == ["new", "b", "c", "a"]


def test_green_names_sort_stalest_first_then_by_first_seen(tmp_path):
    # d erred in round 1, so its first GREEN row is in round 2, after c
    _write(tmp_path, 1, {"a": GREEN, "b": GREEN, "d": ERROR, "c": GREEN})
    _write(tmp_path, 2, {"d": GREEN, "b": GREEN, "e": GREEN})
    _write(tmp_path, 10, {"c": GREEN})
    names = ["e", "d", "c", "b", "a"]
    # round 1: a; round 2: b, d, e by first green position; round 10: c
    assert witness_order(names, tmp_path) == ["a", "b", "d", "e", "c"]


def test_no_result_files_keep_registration_order(tmp_path):
    names = ["c", "a", "b"]
    assert witness_order(names, tmp_path) == names


def test_all_queries_is_a_permutation_of_the_registry():
    assert sorted(all_queries()) == sorted(QUERY_REGISTRY)


def test_window_has_full_oracles():
    # the driver checks the first 50 entries of queries(): every one is
    # value-hash checked, none is rows-only
    q = all_queries()
    assert [n for n in list(q)[:50] if q[n].oracle is None] == []


def test_rows_only_floor():
    # zero rows-only queries: a new rows-only registration must be a
    # conscious decision, not drift
    rows_only = {n for n, q in QUERY_REGISTRY.items() if q.oracle is None}
    assert rows_only == set()
