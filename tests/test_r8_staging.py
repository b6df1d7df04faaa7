"""Semantic pins for the round-8 LLM-pipeline operators
(queries/r8_staging.py — registered in round 8; oracle parity is now
covered by the registry-wide tools/check_oracle.py gate and the
sf0.001 pytest sweep, so this file keeps only the invariants the
value-hash compare can't express: tercile structure, temperature
redistribution, the winnowing guarantee, and plan anti-patterns)."""

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY

R8_NAMES = [
    # the round-7-staged batch, registered first
    "ccnet_perplexity_buckets",
    "mixture_temperature_weights",
    "winnowing_fingerprint_pairs",
    # the round-8 additions (VERDICT r7 item 6a/6c + boilerplate)
    "eval_decontaminate_exact_ngrams",
    "winnowing_cluster_dedup",
    "boilerplate_sentence_removal",
]


def test_r8_rows_are_registered_and_witnessed():
    assert set(R8_NAMES) <= set(QUERY_REGISTRY)
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R8_NAMES)


@pytest.mark.parametrize("name", sorted(R8_NAMES))
def test_r8_plan_antipatterns(spark, sf_dir, name):
    df = QUERY_REGISTRY[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


def test_ccnet_buckets_are_per_lang_terciles(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["ccnet_perplexity_buckets"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
        assert r["keep"] == (r["bucket"] in ("head", "middle"))
    for lang, rs in by_lang.items():
        n = len(rs)
        sizes = {"head": 0, "middle": 0, "tail": 0}
        for r in rs:
            sizes[r["bucket"]] += 1
        # NTILE(3): bucket sizes differ by at most one, head gets extras
        assert sizes["head"] >= sizes["middle"] >= sizes["tail"], lang
        assert sizes["head"] - sizes["tail"] <= 1, lang
        assert sum(sizes.values()) == n
        # head scores <= middle scores <= tail scores (fluency order)
        mx = {
            b: max(r["mean_inv_p"] for r in rs if r["bucket"] == b)
            for b in sizes
        }
        mn = {
            b: min(r["mean_inv_p"] for r in rs if r["bucket"] == b)
            for b in sizes
        }
        assert mx["head"] <= mn["middle"] or sizes["middle"] == 0
        assert mx["middle"] <= mn["tail"] or sizes["tail"] == 0


def test_temperature_weights_redistribute_toward_rare(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["mixture_temperature_weights"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert len(rows) >= 2
    s_p = sum(r["p_raw"] for r in rows)
    s_w = sum(r["weight"] for r in rows)
    assert abs(s_p - 1.0) < 1e-3
    assert abs(s_w - 1.0) < 1e-3
    for r in rows:
        assert 0.0 < r["weight"] < 1.0
        assert r["boost"] > 0.0
    # sqrt flattening: the rarest language is boosted at least as much
    # as the most common one (boost is monotone decreasing in p)
    by_p = sorted(rows, key=lambda r: r["p_raw"])
    assert by_p[0]["boost"] >= by_p[-1]["boost"]
    # and counts reconcile with the raw table
    n_total = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_total


def test_winnowing_guarantee_on_planted_tails(spark, sf_dir):
    from market_pulse_data_pipeline_spark.queries.r8_staging import (
        _WN_PLANT_OFFSET,
        _WN_T,
    )

    rows = (
        QUERY_REGISTRY["winnowing_fingerprint_pairs"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows
    planted_hits = {
        (r["doc_a"] - _WN_PLANT_OFFSET, r["doc_b"])
        for r in rows
        if r["doc_a"] >= _WN_PLANT_OFFSET
    }
    for r in rows:
        assert r["doc_a"] > r["doc_b"]
        assert r["n_shared"] >= _WN_T
    # the winnowing guarantee: every planted tail-extension shares its
    # whole prefix with the original, so (planted, original) must pair
    n_eligible = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE doc_id % 31 = 0 AND len(string_split(text, ' ')) >= 8"
    ).fetchone()[0]
    self_pairs = {(o, b) for o, b in planted_hits if o == b}
    assert len(self_pairs) == n_eligible


def test_decontamination_catches_exactly_the_planted_leaks(spark, sf_dir):
    from market_pulse_data_pipeline_spark.queries.r8_staging import (
        _DC_EVAL_MOD,
        _DC_LEAK_MOD,
        _DC_N,
        _DC_PLANT_OFFSET,
    )

    rows = (
        QUERY_REGISTRY["eval_decontaminate_exact_ngrams"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows
    by_id = {r["doc_id"]: r for r in rows}
    # no eval doc leaks into the training side under its own id
    assert all(
        i % _DC_EVAL_MOD != 0 for i in by_id if i < _DC_PLANT_OFFSET
    )
    # the planted verbatim leaks: every >=N-token one MUST flag (the
    # decontamination contract); <N-token ones CANNOT collide
    planted_expect = duckdb.connect().execute(
        f"SELECT doc_id, len(string_split(text, ' ')) >= {_DC_N} "
        f"FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % {_DC_LEAK_MOD} = 0"
    ).fetchall()
    assert planted_expect
    for doc_id, eligible in planted_expect:
        r = by_id[doc_id + _DC_PLANT_OFFSET]
        assert r["contaminated"] == bool(eligible), r
        if eligible:
            assert r["n_eval_ngrams"] > 0
    # flag and count always agree
    for r in rows:
        assert r["contaminated"] == (r["n_eval_ngrams"] > 0)


def test_winnowing_clusters_join_planted_tails(spark, sf_dir):
    from market_pulse_data_pipeline_spark.queries.r8_staging import (
        _WN_PLANT_OFFSET,
    )

    rows = (
        QUERY_REGISTRY["winnowing_cluster_dedup"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in rows}
    # every planted tail-extension clusters with its original (the
    # winnowing guarantee survives the component composition)
    for doc_id, cid in cluster_of.items():
        if doc_id >= _WN_PLANT_OFFSET:
            orig = doc_id - _WN_PLANT_OFFSET
            assert orig in cluster_of
            assert cluster_of[orig] == cid
    # exactly one kept representative per cluster: the min id
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, rs in by_cluster.items():
        kept = [r for r in rs if r["is_kept"]]
        assert len(kept) == 1
        assert kept[0]["doc_id"] == min(r["doc_id"] for r in rs) == cid
        assert all(r["cluster_size"] == len(rs) for r in rs)


def test_boilerplate_removal_strips_banner_and_nothing_else(spark, sf_dir):
    from market_pulse_data_pipeline_spark.queries.r8_staging import (
        _BP_MOD,
        _BP_W,
    )

    rows = (
        QUERY_REGISTRY["boilerplate_sentence_removal"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert rows
    by_id = {r["doc_id"]: r for r in rows}
    originals = duckdb.connect().execute(
        f"SELECT doc_id, text, md5(text),"
        f" len(string_split(text, ' ')),"
        f" CAST(CEIL(len(string_split(text, ' ')) / {_BP_W}.0) AS INT)"
        f" FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    assert len(by_id) == len(originals)
    for doc_id, _text, orig_md5, n_toks, n_windows in originals:
        r = by_id[doc_id]
        if doc_id % _BP_MOD == 0:
            # the planted banner is exactly pseudo-sentence 0 and MUST
            # strip (its df is the planted-doc count >> the gate)
            assert r["n_removed"] >= 1, r
            assert r["n_sents"] == n_windows + 1, r
            if r["n_removed"] == 1:
                # banner-only removal: the 10-token prefix shifts the
                # window grid by one whole window, so the reassembled
                # text is byte-identical to the original document
                assert r["clean_md5"] == orig_md5, r
                assert r["n_tokens_clean"] == n_toks, r
        else:
            assert r["n_sents"] == n_windows, r
            if r["n_removed"] == 0:
                # no boilerplate -> byte-identical passthrough
                assert r["clean_md5"] == orig_md5, r
                assert r["n_tokens_clean"] == n_toks, r
        assert r["n_removed"] <= r["n_sents"]
        assert r["n_tokens_clean"] <= n_toks + _BP_W
