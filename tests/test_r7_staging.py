"""Semantic pins for the round-7 LLM-pipeline operators
(queries/r7_staging.py — registered in round 7; oracle parity is now
covered by the registry-wide tools/check_oracle.py gate, so this file
keeps only the invariants the value-hash compare can't express:
pure-Python algorithm replays, planted-witness contracts, plan
anti-patterns, and the plant-offset fixture guard from ADVICE r6)."""

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r7_staging import (
    _CAP,
    _INC_PLANT_OFFSET,
    _INC_T,
    _SD_PLANT_OFFSET,
)

R7_NAMES = [
    "semdedup_prune",
    "ngram_novelty_profile",
    "domain_frequency_cap",
    "kcenter_diversity_sample",
    "colbert_maxsim_topk",
    "incremental_near_dup_lsh",
]


def test_r7_rows_are_registered_and_driver_green():
    assert set(R7_NAMES) <= set(QUERY_REGISTRY)
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R7_NAMES)


@pytest.mark.parametrize("table,offset", [
    ("embeddings", _SD_PLANT_OFFSET),
    ("documents", _INC_PLANT_OFFSET),
])
def test_plant_offset_clears_fixture_ids(sf_dir, table, offset):
    # ADVICE r6: a fixture id >= offset would alias a planted copy and
    # silently break the dropped==planted invariants below. Guarded
    # here instead of per-invocation so the query plan stays scan-only.
    col = "vec_id" if table == "embeddings" else "doc_id"
    mn, mx = duckdb.connect().execute(
        f"SELECT min({col}), max({col}) "
        f"FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchone()
    assert mx < offset
    # ADVICE r7: colbert_maxsim_topk's shiftright grouping floors while
    # DuckDB's // truncates toward zero — they agree only for
    # non-negative ids, so pin the fixture's floor alongside its ceiling.
    assert mn >= 0


def test_semdedup_drops_exactly_the_planted_copies(spark, sf_dir):
    rows = QUERY_REGISTRY["semdedup_prune"].spark(spark, sf_dir).collect()
    dropped = {r["vec_id"] for r in rows if r["dropped"]}
    planted = {r["vec_id"] for r in rows if r["vec_id"] >= _SD_PLANT_OFFSET}
    assert planted, "fixture lost its planted copies"
    # every planted copy has cosine ~1 with its original; both land in
    # the same cluster (identical direction), so all planted ids drop
    # and no original does (raw max pairwise cosine is 0.51 << 0.95)
    assert dropped == planted


def test_novelty_bounds_and_first_doc(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["ngram_novelty_profile"].spark(spark, sf_dir).collect()
    )
    by_id = {r["doc_id"]: r for r in rows}
    first = by_id[min(by_id)]
    # the earliest doc's shingles are first-seen by definition
    assert first["n_novel"] == first["n_shingles"]
    assert first["novelty"] == 1.0
    for r in rows:
        assert 0 < r["n_shingles"]
        assert 0 <= r["n_novel"] <= r["n_shingles"]
        assert 0.0 <= r["novelty"] <= 1.0


@pytest.mark.parametrize("name", sorted(R7_NAMES))
def test_r7_plan_antipatterns(spark, sf_dir, name):
    # same two structural bans as tests/test_plan_invariants.py; the
    # semdedup row trains its codebook at construction (like the
    # registered kmeans rows) — the final plan is still built unrun
    df = QUERY_REGISTRY[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


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


def test_incremental_near_dup_contract(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["incremental_near_dup_lsh"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows, "no near-dup pairs found"
    planted_hits = set()
    for r in rows:
        # asymmetric contract: left side incoming (odd or planted),
        # right side corpus (even, un-planted)
        inc, cor = r["inc_id"], r["corpus_id"]
        assert inc % 2 == 1 or inc >= _INC_PLANT_OFFSET
        assert cor % 2 == 0 and cor < _INC_PLANT_OFFSET
        assert r["est_jaccard"] >= _INC_T
        if inc >= _INC_PLANT_OFFSET:
            planted_hits.add((inc - _INC_PLANT_OFFSET, cor))
    # every planted near-copy must be caught against its own original
    n_planted = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE doc_id % 26 = 0"
    ).fetchone()[0]
    self_pairs = {(o, c) for o, c in planted_hits if o == c}
    assert len(self_pairs) == n_planted


def test_domain_cap_arithmetic(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["domain_frequency_cap"].spark(spark, sf_dir).collect()
    )
    assert rows, "no sources"
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"]
        assert r["n_kept"] <= _CAP
        assert r["chars_kept"] > 0
    # fixture has 25 docs per source, so the cap is binding everywhere
    assert all(r["n_dropped"] > 0 for r in rows)
