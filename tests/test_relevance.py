"""Relevance scoring (queries/relevance.py): semantic pins + the
top-k physical-plan shape."""

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.relevance import (
    _QUERY_TERMS,
    _TG_PATTERNS,
    _trigrams,
    bm25_score_query,
    tfidf_top_terms,
)

SF = "/root/testdata/sf0.001"


def test_tfidf_top3_per_doc_and_df_consistency(spark):
    rows = tfidf_top_terms(spark, SF).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 3 for v in per_doc.values())
    # df is a global per-term constant: the same term must carry the
    # same df wherever it appears.
    df_seen = {}
    for r in rows:
        assert df_seen.setdefault(r["term"], r["df"]) == r["df"]
        assert r["tfidf"] > 0


def test_bm25_monotone_and_sorted(spark):
    rows = bm25_score_query(spark, SF).collect()
    assert 0 < len(rows) <= 20
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every returned doc matched at least one query term
    for r in rows:
        assert sum(r[f"tf_{q}"] for q in _QUERY_TERMS) > 0


def test_bm25_topk_plan_avoids_global_window(spark):
    plan = (
        bm25_score_query(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


@pytest.mark.parametrize("q", _QUERY_TERMS)
def test_query_terms_exist_in_corpus(spark, q):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from pyspark.sql import functions as F

    n = docs.filter(F.col("text").contains(q)).count()
    assert n > 0


# --------------------------------------------------------------------
# trigram_substring_index
# --------------------------------------------------------------------


def test_trigram_replay_exact(spark, sf_dir):
    rows = {
        r.pattern: r
        for r in QUERY_REGISTRY["trigram_substring_index"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == set(_TG_PATTERNS)
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    for p in _TG_PATTERNS:
        ptris = set(_trigrams(p))
        n_cand = n_ver = 0
        for _, text in docs:
            dtris = {text[i : i + 3] for i in range(len(text) - 2)}
            if ptris <= dtris:
                n_cand += 1
                if p in text:
                    n_ver += 1
        r = rows[p]
        assert (r.n_candidates, r.n_verified) == (n_cand, n_ver), p
        # the no-false-negative contract of trigram indexing: every
        # true match survives the candidate filter
        direct = sum(1 for _, text in docs if p in text)
        assert r.n_verified == direct, p
        assert r.n_candidates >= r.n_verified, p


def test_trigram_crossword_patterns_answered(spark, sf_dir):
    """The patterns that FORCE character-granular indexing — cross-word
    substrings no token index can answer — must return real matches."""
    rows = {
        r.pattern: r
        for r in QUERY_REGISTRY["trigram_substring_index"]
        .spark(spark, sf_dir)
        .collect()
    }
    for p in ("table sc", "k order"):
        assert " " in p and rows[p].n_verified > 0, p


def test_rrf_fusion_rewards_agreement(spark, sf_dir):
    from market_pulse_data_pipeline_spark.queries.relevance import (
        _RRF_K,
        _RRF_SCALE,
        rrf_hybrid_fusion,
    )

    out = rrf_hybrid_fusion(spark, sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        expected = 0
        if r.rank_uni > 0:
            expected += _RRF_SCALE // (_RRF_K + r.rank_uni)
        if r.rank_bi > 0:
            expected += _RRF_SCALE // (_RRF_K + r.rank_bi)
        # contribution formula holds row by row (absent list -> 0)
        assert r.rrf_scaled == expected
        assert r.doc_id != 0  # the query doc never retrieves itself
    # descending by fused score with doc_id tiebreak
    key = [(-r.rrf_scaled, r.doc_id) for r in rows]
    assert key == sorted(key)
