"""Semantic pins for the round-12 registrations, first batch
(queries/r12_staging.py — corpus_yield_funnel staged in round 9, the
C4 line filters and the hot-n-gram blocklist topped up in round 10,
flipped to @register in round 12 per VERDICT round-11 items 1+7).
Oracle parity is covered by the registry-wide tools/check_oracle.py
sweep; this file keeps
the invariants the value-hash can't express: the funnel algebra, the
C4 planted-witness contracts, and an engine-free pure-python replay
of the blocklist coverage."""

import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r12_staging import (
    _C4_BRACE_OFFSET,
    _C4_JS_OFFSET,
    _C4_LOREM_OFFSET,
    _C4_PLANT_MOD,
    _HB_FLAG_PCT,
    _HB_K,
    _HB_N,
    _YF_EVAL_MOD,
)

R12_NAMES = [
    "corpus_yield_funnel",
    "c4_line_filters",
    "hot_ngram_blocklist_coverage",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R12_NAMES}


def test_r12_registration_composition():
    assert set(R12_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R12_NAMES)


@pytest.mark.parametrize("name", R12_NAMES)
def test_r12_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


@pytest.fixture(scope="module")
def funnel_rows(spark, sf_dir):
    return {
        r.source: r
        for r in QUERIES["corpus_yield_funnel"].spark(spark, sf_dir).collect()
    }


def test_funnel_is_monotone_per_domain(funnel_rows):
    assert len(funnel_rows) == 20
    for r in funnel_rows.values():
        assert r.n_raw >= r.n_after_dedup >= r.n_after_quality
        assert r.n_after_quality >= r.n_after_decontam >= 0
        assert (r.tokens_out > 0) == (r.n_after_decontam > 0)


def test_funnel_totals_match_corpus_level_counts(funnel_rows, sf_dir):
    import duckdb

    con = duckdb.sql(
        f"""
        SELECT COUNT(*),
               COUNT(DISTINCT md5(text))
        FROM read_parquet('{sf_dir}/documents.parquet')
        WHERE doc_id % {_YF_EVAL_MOD} <> 0
        """
    ).fetchone()
    n_train, n_distinct = con
    assert sum(r.n_raw for r in funnel_rows.values()) == n_train
    # dedup survivors across all domains = distinct train texts
    assert sum(r.n_after_dedup for r in funnel_rows.values()) == n_distinct


def test_funnel_stages_actually_drop_something(funnel_rows):
    # the raw fixture has NO exact duplicates (the dedup operators
    # plant their own), so the dedup stage passes everything through —
    # the quality stage is where the fixture's real attrition lives
    # (sub-20-token docs + low-stopword docs)
    total_dedup = sum(r.n_after_dedup for r in funnel_rows.values())
    total_quality = sum(r.n_after_quality for r in funnel_rows.values())
    assert total_quality < total_dedup


# --------------------------------------------------------------------
# c4_line_filters
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def c4_rows(spark, sf_dir):
    return {
        r.doc_id: r for r in QUERIES["c4_line_filters"].spark(spark, sf_dir).collect()
    }


def test_c4_js_plants_drop_exactly_the_js_line(c4_rows):
    js = {
        d: r
        for d, r in c4_rows.items()
        if _C4_JS_OFFSET <= d < _C4_LOREM_OFFSET
    }
    assert js, "no planted javascript twins surfaced"
    for r in js.values():
        # plant = 4 exact 10-token lines, one of them the js line:
        # that line (and only it) dies, the document survives
        assert r.n_lines == 4
        assert r.dropped_js == 1
        assert r.dropped_short == 0
        assert r.kept_lines == 3
        assert r.doc_keep is True
        assert r.n_tokens_kept == 30
        assert r.clean_md5 is not None


def test_c4_lorem_and_brace_plants_die_wholesale(c4_rows):
    lorem = [
        r
        for d, r in c4_rows.items()
        if _C4_LOREM_OFFSET <= d < _C4_BRACE_OFFSET
    ]
    brace = [r for d, r in c4_rows.items() if d >= _C4_BRACE_OFFSET]
    assert lorem and brace
    for r in lorem + brace:
        # every line individually survives (>= 5 words, no js token) —
        # the DOC-level phrase/brace rule is what kills the document
        assert r.kept_lines == r.n_lines == 3
        assert r.doc_keep is False
        assert r.clean_md5 is None


def test_c4_organic_docs_follow_line_arithmetic(c4_rows):
    organic = [r for d, r in c4_rows.items() if d < _C4_JS_OFFSET]
    assert len(organic) == 500
    kept_docs = 0
    for r in organic:
        # the fixture corpus has no javascript/brace/lorem content:
        # only the short-tail rule can drop lines, and the keep flag
        # reduces to the >= 3 surviving lines floor
        assert r.dropped_js == 0
        assert r.kept_lines + r.dropped_short == r.n_lines
        assert r.dropped_short in (0, 1)  # only the tail can be short
        # surviving organic lines are full 10-token windows, except at
        # most one kept tail of 5-9 tokens (>= 5 words keeps it)
        assert 10 * (r.kept_lines - 1) + 5 <= r.n_tokens_kept <= 10 * r.kept_lines
        assert r.doc_keep is (r.kept_lines >= 3)
        assert (r.clean_md5 is not None) == r.doc_keep
        kept_docs += r.doc_keep
    # the rule has bite on the fixture (short docs die) but is not
    # degenerate (most docs survive)
    assert 0 < kept_docs < 500


def test_c4_plant_ids_clear_fixture_ids(sf_dir):
    import duckdb

    hi = duckdb.sql(
        f"SELECT max(doc_id) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert hi + _C4_PLANT_MOD < _C4_JS_OFFSET
    assert _C4_JS_OFFSET < _C4_LOREM_OFFSET < _C4_BRACE_OFFSET
    # plant families stay disjoint even at the max fixture id
    assert hi + _C4_JS_OFFSET < _C4_LOREM_OFFSET
    assert hi + _C4_LOREM_OFFSET < _C4_BRACE_OFFSET


# --------------------------------------------------------------------
# hot_ngram_blocklist_coverage
# --------------------------------------------------------------------


def test_hot_ngram_matches_pure_python_replay(spark, sf_dir):
    # engine-free replay: recount every trigram, rebuild the top-K
    # blocklist under the pinned total order (count DESC, gram ASC),
    # and recompute every document's coverage in plain python. The
    # Spark side must agree EXACTLY (integers) — independent of both
    # engines' join/aggregate machinery.
    import collections

    import duckdb

    rows = QUERIES["hot_ngram_blocklist_coverage"].spark(spark, sf_dir).collect()
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()

    def grams(text):
        ws = text.split(" ")
        return [
            " ".join(ws[i : i + _HB_N]) for i in range(len(ws) - _HB_N + 1)
        ]

    counts = collections.Counter()
    for _, text in docs:
        counts.update(grams(text))
    block = {
        g for g, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_HB_K]
    }
    expected = {}
    for doc_id, text in docs:
        gs = grams(text)
        hits = sum(1 for g in gs if g in block)
        expected[doc_id] = (len(gs), hits)

    assert len(rows) == len(expected)
    for r in rows:
        n_grams, n_hits = expected[r.doc_id]
        assert (r.n_grams, r.n_hits) == (n_grams, n_hits), r.doc_id
        assert r.flagged is (n_hits * 100 >= n_grams * _HB_FLAG_PCT)


def test_hot_ngram_blocklist_has_organic_bite(spark, sf_dir):
    # the fixture vocabulary is small and shared, so the corpus DOES
    # have hot trigrams: the flag must fire somewhere and not
    # everywhere, and coverage must stay a valid fraction
    rows = QUERIES["hot_ngram_blocklist_coverage"].spark(spark, sf_dir).collect()
    flagged = [r for r in rows if r.flagged]
    assert 0 < len(flagged) < len(rows)
    for r in rows:
        assert 0 <= r.n_hits <= r.n_grams
        assert 0.0 <= r.hit_frac <= 1.0
