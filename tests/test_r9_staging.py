"""Semantic pins for the round-10 registrations (queries/r9_staging.py
— staged and triple-gated in round 9, flipped to @register in round
10 per VERDICT round-9 item 1). Oracle parity is covered by the
registry-wide tools/check_oracle.py sweep; this file keeps the
invariants the value-hash compare can't express: the Gopher
planted-plant contract, the fuzzy-decontamination threshold witnesses,
the rank-profile classifier's behavior on genuinely distinct
languages, and plan anti-patterns."""

import os

import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r9_staging import (
    _FZ_EVAL_MOD,
    _FZ_N,
    _FZ_N_OFFSET,
    _FZ_P_OFFSET,
    _FZ_V_OFFSET,
    _FZ_VERBATIM_MOD,
    _GR_PLANT_MOD,
    _GR_PLANT_OFFSET,
)

R9_NAMES = [
    "gopher_repetition_filters",
    "eval_decontaminate_fuzzy_minhash",
    "lang_id_rank_profile",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R9_NAMES}


def test_r10_registration_composition():
    assert set(R9_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R9_NAMES)
    # VERDICT r9 item 3: the two corpus-scale shapes enter the bench set
    assert QUERY_REGISTRY["gopher_repetition_filters"].bench is True
    assert QUERY_REGISTRY["eval_decontaminate_fuzzy_minhash"].bench is True


@pytest.mark.parametrize("name", R9_NAMES)
def test_r9_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# gopher_repetition_filters
# --------------------------------------------------------------------


def test_gopher_plants_all_filtered(spark, sf_dir):
    rows = QUERIES["gopher_repetition_filters"].spark(spark, sf_dir).collect()
    plants = [r for r in rows if r.doc_id >= _GR_PLANT_OFFSET]
    assert plants, "no planted repetitive twins surfaced"
    # a 12x-repeated pseudo-line measures exactly 11/12 duplicate lines
    # and 3/4 duplicate paragraphs, and always fails the keep gate
    for r in plants:
        assert r.dup_line_frac == pytest.approx(11 / 12, abs=1e-4)
        assert r.dup_para_frac == pytest.approx(3 / 4, abs=1e-4)
        assert r.n_tokens == 120
        assert r.keep is False


def test_gopher_originals_mostly_keep_and_stats_coherent(spark, sf_dir):
    rows = QUERIES["gopher_repetition_filters"].spark(spark, sf_dir).collect()
    originals = [r for r in rows if r.doc_id < _GR_PLANT_OFFSET]
    assert len(originals) == 500  # one decision per corpus doc
    for r in rows:
        assert 0.0 <= r.dup_line_frac <= 1.0
        assert 0.0 <= r.dup_para_frac <= 1.0
        # mode count is non-increasing in n, so n*top_n coverage can at
        # most double between consecutive orders; all lie in (0, 1]
        assert 0.0 < r.top4_cov <= 1.0
        # ratios are rounded to 4 digits, so the reconstructed integer
        # counts carry up to ~0.5e-4 * n_tokens of rounding slack;
        # true violations differ by a full count unit (>= 1)
        assert r.top2_cov * r.n_tokens / 2 >= r.top3_cov * r.n_tokens / 3 - 0.01
        assert r.top3_cov * r.n_tokens / 3 >= r.top4_cov * r.n_tokens / 4 - 0.01


def test_gopher_plant_ids_clear_fixture_ids(sf_dir):
    import duckdb

    hi = duckdb.sql(
        f"SELECT max(doc_id) FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert hi + _GR_PLANT_OFFSET < _FZ_V_OFFSET  # plant ranges disjoint
    assert hi < _GR_PLANT_OFFSET


# --------------------------------------------------------------------
# eval_decontaminate_fuzzy_minhash
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def fuzzy_rows(spark, sf_dir):
    return (
        QUERIES["eval_decontaminate_fuzzy_minhash"]
        .spark(spark, sf_dir)
        .collect()
    )


def _eval_token_counts(sf_dir):
    import duckdb

    return dict(
        duckdb.sql(
            f"SELECT doc_id, len(string_split(text, ' ')) FROM "
            f"read_parquet('{sf_dir}/documents.parquet') "
            f"WHERE doc_id % {_FZ_EVAL_MOD} = 0"
        ).fetchall()
    )


def test_fuzzy_verbatim_leaks_all_flag_at_jaccard_one(fuzzy_rows, sf_dir):
    toks = _eval_token_counts(sf_dir)
    expected = {
        d for d, n in toks.items()
        if d % _FZ_VERBATIM_MOD == 0 and n >= _FZ_N
    }
    assert expected, "fixture has no shingle-bearing verbatim leaks"
    got = {
        r.doc_id - _FZ_V_OFFSET
        for r in fuzzy_rows
        if _FZ_V_OFFSET <= r.doc_id < _FZ_P_OFFSET
    }
    assert expected <= got
    for r in fuzzy_rows:
        if _FZ_V_OFFSET <= r.doc_id < _FZ_P_OFFSET:
            if r.eval_doc_id == r.doc_id - _FZ_V_OFFSET:
                assert r.jaccard == pytest.approx(1.0)


def test_fuzzy_long_partial_leaks_flag(fuzzy_rows, sf_dir):
    # a 90%-prefix copy of an m-token doc keeps floor(.9m)-12 of its
    # m-12 shingles; for m >= 27 that Jaccard is provably >= 0.8
    toks = _eval_token_counts(sf_dir)
    expected = {
        d for d, n in toks.items()
        if d % _FZ_VERBATIM_MOD != 0 and n >= 27
    }
    assert expected, "fixture has no long partial-leak sources"
    got = {
        (r.doc_id - _FZ_P_OFFSET, r.eval_doc_id)
        for r in fuzzy_rows
        if _FZ_P_OFFSET <= r.doc_id < _FZ_N_OFFSET
    }
    for d in expected:
        assert (d, d) in got, f"90% partial leak of eval doc {d} missed"


def test_fuzzy_negatives_never_flag(fuzzy_rows):
    # 40%-prefix copies cap at J = (0.4m-12)/(m-12) < 0.35 on this
    # corpus (m <= 100): none may reach the 0.8 gate
    assert all(r.doc_id < _FZ_N_OFFSET for r in fuzzy_rows)


def test_fuzzy_jaccard_all_above_threshold(fuzzy_rows):
    assert fuzzy_rows, "no contaminated pairs at all"
    for r in fuzzy_rows:
        assert r.jaccard >= 0.8 - 1e-9
        assert r.intersection >= 1


# --------------------------------------------------------------------
# lang_id_rank_profile
# --------------------------------------------------------------------


def test_langid_one_prediction_per_doc(spark, sf_dir):
    rows = QUERIES["lang_id_rank_profile"].spark(spark, sf_dir).collect()
    assert len(rows) == 500
    assert len({r.doc_id for r in rows}) == 500
    langs = {r.lang for r in rows}
    for r in rows:
        assert r.lang_pred in langs
        assert r.oop_distance >= 0


def test_langid_separates_genuinely_distinct_languages(spark, tmp_path):
    # the fixture corpus draws every "language" from one shared
    # vocabulary, so accuracy there is meaningless; this pin feeds the
    # SAME staged callable a corpus of genuinely distinct character
    # distributions and requires near-perfect identification —
    # including on docs OUTSIDE the labeled seed partition
    # (doc_id % 10 >= 3).
    import pandas as pd

    vocab = {
        "aa": ["alpha", "apple", "arena", "aback", "abide"],
        "zz": ["zizzle", "puzzle", "fuzzy", "zigzag", "pizzazz"],
        "oo": ["oolong", "smooth", "booboo", "voodoo", "cocoon"],
    }
    rows = []
    for li, (lang, words) in enumerate(sorted(vocab.items())):
        for j in range(40):
            text = " ".join(words[(j + k) % len(words)] for k in range(30))
            rows.append(
                {
                    "doc_id": li * 40 + j,
                    "text": text,
                    "lang": lang,
                    "source": "synthetic",
                    "n_chars": len(text),
                }
            )
    pdf = pd.DataFrame(rows)
    sf = tmp_path / "sf_synth"
    os.makedirs(sf)
    pdf.to_parquet(sf / "documents.parquet")
    out = QUERIES["lang_id_rank_profile"].spark(spark, str(sf)).collect()
    assert len(out) == len(rows)
    correct = sum(1 for r in out if r.lang_pred == r.lang)
    assert correct == len(rows), "rank-profile lang-ID misclassified docs"
    unseeded = [r for r in out if r.doc_id % 10 >= 3]
    assert unseeded and all(r.lang_pred == r.lang for r in unseeded)
