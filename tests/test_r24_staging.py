"""Semantic pins for the round-24-batch operators
(queries/r24_staging.py). Oracle parity is covered by
tests/test_queries_oracle.py; this file keeps the invariants the
value-hash can't express: pure-python replays of all three operators
(re + hashlib for the contagion clusters and the line dedup's byte
witness, integer dots for the margin criterion), the contagion
non-vacuousness pin (inherited flags EXIST — the operator's whole
point), the planted twin-line drop, and the accepted-AND-rejected
margin balance."""

import hashlib
import re

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r24_staging import (
    _IL_PLANT_MOD,
    _IL_W,
    _MM_DEN,
    _MM_K,
    _MM_NUM,
    _MM_Q_MOD,
    _MM_SCALE,
    _PC_OFFSET,
    _PC_PLANT_MOD,
    _PC_PREFIX_W,
)
from market_pulse_data_pipeline_spark.queries.text import _PII_EMAIL, _PII_ID

R24_NAMES = [
    "pii_cluster_contagion",
    "intra_doc_line_dedup",
    "cross_label_margin_mining",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R24_NAMES}


def test_r24_staging_composition():
    assert set(R24_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R24_NAMES)


@pytest.mark.parametrize("name", R24_NAMES)
def test_r24_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


def _docs(sf_dir: str) -> list[tuple[int, str]]:
    return duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


# --------------------------------------------------------------------
# pii_cluster_contagion
# --------------------------------------------------------------------


def _pcc_replay(sf_dir: str):
    email = re.compile(_PII_EMAIL)
    digits = re.compile(_PII_ID)
    corpus = []
    for doc_id, text in _docs(sf_dir):
        corpus.append((doc_id, text))
        ws = text.split(" ")
        if doc_id % _PC_PLANT_MOD == 0 and len(ws) >= _PC_PREFIX_W:
            corpus.append(
                (
                    doc_id + _PC_OFFSET,
                    f"{text} reach me at leak{doc_id}@mail.com",
                )
            )
    rows = {}
    clusters: dict[str, list[int]] = {}
    for doc_id, text in corpus:
        key = hashlib.md5(
            " ".join(text.split(" ")[:_PC_PREFIX_W]).encode()
        ).hexdigest()
        flag = bool(email.search(text) or digits.search(text))
        rows[doc_id] = (key, flag)
        clusters.setdefault(key, []).append(doc_id)
    out = {}
    for doc_id, (key, flag) in rows.items():
        members = clusters[key]
        cflag = any(rows[m][1] for m in members)
        out[doc_id] = (key, len(members), flag, cflag, cflag and not flag)
    return out


def test_pcc_replay_exact(spark, sf_dir):
    got = QUERIES["pii_cluster_contagion"].spark(spark, sf_dir).collect()
    expect = _pcc_replay(sf_dir)
    assert {r.doc_id for r in got} == set(expect)
    for r in got:
        key, size, flag, cflag, inherited = expect[r.doc_id]
        assert r.cluster_key == key
        assert r.cluster_size == size
        assert r.pii_flag == flag
        assert r.cluster_pii_flag == cflag
        assert r.inherited_flag == inherited


def test_pcc_contagion_nonvacuous(spark, sf_dir):
    got = QUERIES["pii_cluster_contagion"].spark(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in got}
    # every planted twin carries PII itself
    twins = [r for r in got if r.doc_id >= _PC_OFFSET]
    assert twins and all(r.pii_flag for r in twins)
    # the operator's point: clean originals INHERIT the cluster flag
    inherited = [r for r in got if r.inherited_flag]
    assert inherited
    # at least one inherited row is a planted twin's clean original
    assert any(
        (r.doc_id + _PC_OFFSET) in by_id
        and by_id[r.doc_id + _PC_OFFSET].pii_flag
        for r in inherited
    )
    # propagation is internally consistent
    assert all(
        r.cluster_pii_flag or not r.pii_flag for r in got
    )


# --------------------------------------------------------------------
# intra_doc_line_dedup
# --------------------------------------------------------------------


def _ild_replay(sf_dir: str):
    out = {}
    for doc_id, text in _docs(sf_dir):
        ws = text.split(" ")
        if doc_id % _IL_PLANT_MOD == 0 and len(ws) >= _IL_W:
            text = " ".join(ws[:_IL_W]) + " " + text
            ws = text.split(" ")
        lines = [
            " ".join(ws[i : i + _IL_W]) for i in range(0, len(ws), _IL_W)
        ]
        seen = []
        for ln in lines:
            if ln not in seen:
                seen.append(ln)
        cleaned = " ".join(seen)
        out[doc_id] = (
            len(lines),
            len(seen),
            len(lines) - len(seen),
            hashlib.md5(cleaned.encode()).hexdigest(),
        )
    return out


def test_ild_replay_exact(spark, sf_dir):
    got = QUERIES["intra_doc_line_dedup"].spark(spark, sf_dir).collect()
    expect = _ild_replay(sf_dir)
    assert {r.doc_id for r in got} == set(expect)
    for r in got:
        n_lines, n_unique, n_dropped, md5 = expect[r.doc_id]
        assert (r.n_lines, r.n_unique, r.n_dropped) == (
            n_lines,
            n_unique,
            n_dropped,
        )
        assert r.cleaned_md5 == md5


def test_ild_planted_twin_line_drops(spark, sf_dir):
    got = QUERIES["intra_doc_line_dedup"].spark(spark, sf_dir).collect()
    planted = [
        r for r in got if r.doc_id % _IL_PLANT_MOD == 0 and r.n_lines > 1
    ]
    # every planted doc drops at least its twin first line
    assert planted and all(r.n_dropped >= 1 for r in planted)
    # and drops exist ONLY where planted (the fixture text is
    # random-ish, so organic 10-token repeats do not occur)
    assert all(
        r.n_dropped == 0
        for r in got
        if r.doc_id % _IL_PLANT_MOD != 0
    )


# --------------------------------------------------------------------
# cross_label_margin_mining
# --------------------------------------------------------------------


def _mm_replay(sf_dir: str):
    rows = duckdb.sql(
        f"SELECT vec_id, label, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    vecs = [
        (vid, lab, [round(x * _MM_SCALE) for x in v])
        for vid, lab, v in rows
    ]
    out = {}
    for qid, qlab, qv in vecs:
        if qid % _MM_Q_MOD != 0:
            continue
        dots = []
        for cid, clab, cv in vecs:
            if clab == qlab:
                continue
            d = sum(a * b for a, b in zip(qv, cv))
            if d > 0:
                dots.append((d, cid, clab))
        if len(dots) < _MM_K + 1:
            continue
        dots.sort(key=lambda t: (-t[0], t[1]))
        best_d, best_id, best_lab = dots[0]
        run_sum = sum(d for d, _, _ in dots[1 : _MM_K + 1])
        out[qid] = (
            qlab,
            best_id,
            best_lab,
            best_d,
            run_sum,
            _MM_DEN * _MM_K * best_d > _MM_NUM * run_sum,
        )
    return out


def test_mm_replay_exact(spark, sf_dir):
    got = (
        QUERIES["cross_label_margin_mining"].spark(spark, sf_dir).collect()
    )
    expect = _mm_replay(sf_dir)
    assert {r.qid for r in got} == set(expect)
    for r in got:
        qlab, best_id, best_lab, best_d, run_sum, accepted = expect[r.qid]
        assert r.q_label == qlab
        assert r.best_vec_id == best_id
        assert r.best_label == best_lab
        assert r.dot_best == best_d
        assert r.sum_runnerup == run_sum
        assert r.accepted == accepted
        # the ratio margin never dips below 1 for the BEST match
        assert r.margin_ratio >= 1.0


def test_mm_both_classes_present(spark, sf_dir):
    got = (
        QUERIES["cross_label_margin_mining"].spark(spark, sf_dir).collect()
    )
    assert any(r.accepted for r in got)
    assert any(not r.accepted for r in got)
