"""Semantic pins for the queries/similarity.py and queries/ml.py rows:
pure-Python replays, planted-witness contracts and fixture guards that
the value-hash compare in tests/test_queries_oracle.py can't express."""

import duckdb

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.similarity import (
    _MM_DEN,
    _MM_K,
    _MM_NUM,
    _MM_Q_MOD,
    _MM_SCALE,
)


def test_kcenter_is_farthest_point_traversal(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["kcenter_diversity_sample"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len({r["vec_id"] for r in rows}) == len(rows)
    # pure-Python replay: exact int64 farthest-point over the same
    # quantized vectors must reproduce the picks bit-for-bit
    con = duckdb.connect()
    data = con.execute(
        "SELECT vec_id, list_transform(embedding, x -> CAST(round("
        "CAST(x AS DOUBLE) * 1000000) AS BIGINT)) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    vecs = {int(i): v for i, v in data}
    sel = [min(vecs)]
    expect = [(1, sel[0], 0)]
    for rank in range(2, len(rows) + 1):
        best = None
        for i, v in vecs.items():
            if i in sel:
                continue
            mind = min(
                sum((a - b) * (a - b) for a, b in zip(v, vecs[s]))
                for s in sel
            )
            key = (-mind, i)
            if best is None or key < best[0]:
                best = (key, i, mind)
        expect.append((rank, best[1], best[2]))
        sel.append(best[1])
    got = [(r["rank"], r["vec_id"], r["d2_at_pick"]) for r in rows]
    assert got == expect
    # the coverage radius sequence is non-increasing after the seed
    d2s = [r["d2_at_pick"] for r in rows][1:]
    assert all(a >= b for a, b in zip(d2s, d2s[1:]))


def test_maxsim_matches_python_replay(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["colbert_maxsim_topk"].spark(spark, sf_dir).collect()
    )
    assert len(rows) == 10
    got = [(r["doc_id"], r["maxsim"]) for r in rows]
    con = duckdb.connect()
    data = con.execute(
        "SELECT vec_id, list_transform(embedding, x -> CAST(round("
        "CAST(x AS DOUBLE) * 1000000) AS BIGINT)) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    vecs = {int(i): v for i, v in data}
    q = [vecs[i] for i in sorted(vecs) if i // 8 == 0]
    docs: dict[int, list] = {}
    for i, v in vecs.items():
        if i // 8 > 0:
            docs.setdefault(i // 8, []).append(v)
    scores = {
        d: sum(
            max(sum(a * b for a, b in zip(qt, dt)) for dt in toks)
            for qt in q
        )
        for d, toks in docs.items()
    }
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == expect
    # ranking sanity: returned scores are non-increasing
    ms = [r["maxsim"] for r in rows]
    assert all(a >= b for a, b in zip(ms, ms[1:]))


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
        QUERY_REGISTRY["cross_label_margin_mining"].spark(spark, sf_dir).collect()
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
        QUERY_REGISTRY["cross_label_margin_mining"].spark(spark, sf_dir).collect()
    )
    assert any(r.accepted for r in got)
    assert any(not r.accepted for r in got)
