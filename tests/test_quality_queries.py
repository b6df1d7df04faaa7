"""Semantic pins for the queries/quality.py rows: pure-Python replays,
planted-witness contracts and fixture guards that the value-hash
compare in tests/test_queries_oracle.py can't express."""

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.quality import (
    _AUC_NOISE,
    _AUC_SBUCKET,
    _AUC_TH,
    _BL_EVAL_MOD,
    _BL_K,
    _BL_LEAK_MOD,
    _BL_M,
    _BL_N,
    _BL_NWORDS,
    _BL_OFFSET,
    _BL_WORD,
    _C4_BRACE_OFFSET,
    _C4_JS_OFFSET,
    _C4_LOREM_OFFSET,
    _C4_PLANT_MOD,
    _DG_MIN_AVG_CHARS,
    _EC_BINS,
    _ES_EVAL_MOD,
    _ES_H_OFFSET,
    _ES_N_OFFSET,
    _ES_V_OFFSET,
    _FZ_EVAL_MOD,
    _FZ_N,
    _FZ_N_OFFSET,
    _FZ_P_OFFSET,
    _FZ_V_OFFSET,
    _FZ_VERBATIM_MOD,
    _GR_PLANT_OFFSET,
    _HB_FLAG_PCT,
    _HB_K,
    _HB_N,
    _IL_PLANT_MOD,
    _IL_W,
    _LD_BAL_BUCKET,
    _LD_L,
    _OO_RULES,
    _PC_OFFSET,
    _PC_PLANT_MOD,
    _PC_PREFIX_W,
    _RD_EMAIL,
    _RD_EMAIL_TOK,
    _RD_ID,
    _RD_ID_TOK,
    _RD_MOD,
    _TC_BAL_BUCKET,
    _TC_DEN,
    _TC_NUM,
    _YF_EVAL_MOD,
)
from market_pulse_data_pipeline_spark.queries.text import _PII_EMAIL, _PII_ID


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


def test_decontamination_catches_exactly_the_planted_leaks(spark, sf_dir):
    from market_pulse_data_pipeline_spark.queries.quality import (
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


def test_boilerplate_removal_strips_banner_and_nothing_else(spark, sf_dir):
    from market_pulse_data_pipeline_spark.queries.quality import (
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


# --------------------------------------------------------------------
# gopher_repetition_filters
# --------------------------------------------------------------------


def test_gopher_plants_all_filtered(spark, sf_dir):
    rows = QUERY_REGISTRY["gopher_repetition_filters"].spark(spark, sf_dir).collect()
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
    rows = QUERY_REGISTRY["gopher_repetition_filters"].spark(spark, sf_dir).collect()
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
        QUERY_REGISTRY["eval_decontaminate_fuzzy_minhash"]
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
# domain_dedup_quality_gate
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def domain_rows(spark, sf_dir):
    return {
        r.source: r
        for r in QUERY_REGISTRY["domain_dedup_quality_gate"]
        .spark(spark, sf_dir)
        .collect()
    }


def test_domain_gate_kills_the_spamfarm_on_dup_rate(domain_rows):
    spam = domain_rows["spamfarm"]
    assert spam.keep_domain is False
    # two verbatim copies per seed doc, distinct texts collapse 2:1 ->
    # (n - n_distinct)/n = 1/2 duplicate rate
    assert spam.dup_rate == pytest.approx(0.5, abs=1e-3)
    assert spam.avg_chars >= _DG_MIN_AVG_CHARS  # dies on dedup, not length


def test_domain_gate_kills_the_stubfarm_on_quality(domain_rows):
    stub = domain_rows["stubfarm"]
    assert stub.keep_domain is False
    assert stub.dup_rate == 0.0  # dies on length, not dedup
    assert stub.avg_chars < _DG_MIN_AVG_CHARS


def test_domain_gate_keeps_every_organic_domain(domain_rows):
    organic = {s: r for s, r in domain_rows.items() if s.startswith("src")}
    assert len(organic) == 20
    assert all(r.keep_domain for r in organic.values())


@pytest.fixture(scope="module")
def funnel_rows(spark, sf_dir):
    return {
        r.source: r
        for r in QUERY_REGISTRY["corpus_yield_funnel"].spark(spark, sf_dir).collect()
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
    q = QUERY_REGISTRY["c4_line_filters"]
    return {r.doc_id: r for r in q.spark(spark, sf_dir).collect()}


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

    rows = QUERY_REGISTRY["hot_ngram_blocklist_coverage"].spark(spark, sf_dir).collect()
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
    rows = QUERY_REGISTRY["hot_ngram_blocklist_coverage"].spark(spark, sf_dir).collect()
    flagged = [r for r in rows if r.flagged]
    assert 0 < len(flagged) < len(rows)
    for r in rows:
        assert 0 <= r.n_hits <= r.n_grams
        assert 0.0 <= r.hit_frac <= 1.0


# --------------------------------------------------------------------
# eval_decontaminate_semantic
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def esem_rows(spark, sf_dir):
    return (
        QUERY_REGISTRY["eval_decontaminate_semantic"].spark(spark, sf_dir).collect()
    )


def _eval_ids(sf_dir):
    import duckdb

    return {
        r[0]
        for r in duckdb.sql(
            f"SELECT vec_id FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet') "
            f"WHERE vec_id % {_ES_EVAL_MOD} = 0"
        ).fetchall()
    }


def test_esem_verbatim_plants_flag_their_own_eval_vector(esem_rows, sf_dir):
    evals = _eval_ids(sf_dir)
    got = {
        (r.vec_id - _ES_V_OFFSET, r.eval_vec_id)
        for r in esem_rows
        if _ES_V_OFFSET <= r.vec_id < _ES_H_OFFSET
    }
    for e in evals:
        assert (e, e) in got, f"verbatim copy of eval vector {e} missed"


def test_esem_half_scale_plants_flag_scale_free(esem_rows, sf_dir):
    # cosine is scale-invariant: the 0.5x copies MUST still flag — a
    # dot-product threshold would miss every one of them
    evals = _eval_ids(sf_dir)
    got = {
        (r.vec_id - _ES_H_OFFSET, r.eval_vec_id)
        for r in esem_rows
        if _ES_H_OFFSET <= r.vec_id < _ES_N_OFFSET
    }
    for e in evals:
        assert (e, e) in got, f"half-scale copy of eval vector {e} missed"


def test_esem_negated_plants_never_flag(esem_rows):
    # dot(x, -x) < 0: the sign guard must drop every negated copy
    assert all(r.vec_id < _ES_N_OFFSET for r in esem_rows)


def test_esem_flags_satisfy_the_integer_threshold(esem_rows, sf_dir):
    # engine-free replay of the quantized cosine for every flagged
    # pair: recompute dot and norms in pure python and re-check
    # 400*dot^2 >= 361*|a|^2*|b|^2 (and dot >= 0)
    import duckdb

    vecs = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT vec_id, embedding FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        ).fetchall()
    }

    def q(v, scale=1.0):
        import struct as _s

        out = []
        for x in v:
            y = x * scale
            # replicate CAST(... AS FLOAT) then round(double * 1e6)
            y = _s.unpack("f", _s.pack("f", y))[0]
            out.append(round(y * 1_000_000))
        return out

    assert esem_rows, "no flagged pairs at all"
    for r in esem_rows:
        if r.vec_id >= _ES_H_OFFSET:
            a = q(vecs[r.vec_id - _ES_H_OFFSET], 0.5)
        elif r.vec_id >= _ES_V_OFFSET:
            a = q(vecs[r.vec_id - _ES_V_OFFSET])
        else:
            a = q(vecs[r.vec_id])
        b = q(vecs[r.eval_vec_id])
        dot = sum(x * y for x, y in zip(a, b))
        n2a = sum(x * x for x in a)
        n2b = sum(y * y for y in b)
        assert dot == r.dot
        assert dot >= 0
        assert 400 * dot * dot >= 361 * n2a * n2b


def test_esem_candidate_kernel_matches_explode_path(spark, sf_dir, esem_rows):
    # equivalence pin: the screened-candidate mapInPandas kernel
    # (superset screen + unchanged exact decimal(38) filter) must be
    # row-for-row identical to the verbatim expression path
    # (pandas_udf all-dots + posexplode + element_at + interpreted tn2
    # fold), which this test rebuilds literally.
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from market_pulse_data_pipeline_spark.queries.common import t
    from market_pulse_data_pipeline_spark.queries.quality import (
        _ES_DEN,
        _ES_NUM,
        _ES_SCALE,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    evs = emb.filter(F.col("vec_id") % _ES_EVAL_MOD == 0)
    train = (
        emb.filter(F.col("vec_id") % _ES_EVAL_MOD != 0)
        .unionByName(
            evs.select(
                (F.col("vec_id") + _ES_V_OFFSET).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            evs.select(
                (F.col("vec_id") + _ES_H_OFFSET).alias("vec_id"),
                F.transform(
                    "embedding", lambda x: (x * 0.5).cast("float")
                ).alias("embedding"),
            )
        )
        .unionByName(
            evs.select(
                (F.col("vec_id") + _ES_N_OFFSET).alias("vec_id"),
                F.transform("embedding", lambda x: (-x).cast("float")).alias(
                    "embedding"
                ),
            )
        )
    )
    quant = lambda col: F.transform(  # noqa: E731
        col, lambda x: F.round(x.cast("double") * _ES_SCALE).cast("long")
    )
    ev_rows = sorted(
        evs.select("vec_id", quant(F.col("embedding")).alias("q")).collect(),
        key=lambda r: r["vec_id"],
    )
    ev_mat = np.array([[int(c) for c in r["q"]] for r in ev_rows], np.int64)
    eid_lit = F.array(*[F.lit(int(r["vec_id"])) for r in ev_rows])
    en2_lit = F.array(
        *[F.lit(int(v)) for v in (ev_mat * ev_mat).sum(axis=1)]
    )

    @pandas_udf(T.ArrayType(T.LongType()))
    def _eval_dots(tv: pd.Series) -> pd.Series:
        if len(tv) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(tv.to_numpy()).astype(np.int64)
        return pd.Series(list(x @ ev_mat.T))

    tq = train.select("vec_id", quant(F.col("embedding")).alias("tv")).withColumn(
        "tn2",
        F.aggregate(
            F.transform("tv", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    pairs = tq.select(
        "vec_id", "tn2", F.posexplode(_eval_dots("tv")).alias("pos", "dot")
    ).select(
        "vec_id",
        F.element_at(eid_lit, F.col("pos") + 1).alias("eval_vec_id"),
        "dot",
        "tn2",
        F.element_at(en2_lit, F.col("pos") + 1).alias("en2"),
    )
    dec = "decimal(38,0)"
    legacy = (
        pairs.filter(
            (F.col("dot") >= 0)
            & (
                F.col("dot").cast(dec) * F.col("dot").cast(dec) * _ES_DEN
                >= F.col("tn2").cast(dec) * F.col("en2").cast(dec) * _ES_NUM
            )
        )
        .select("vec_id", "eval_vec_id", "dot")
        .orderBy("vec_id", "eval_vec_id")
        .collect()
    )
    got = [(r.vec_id, r.eval_vec_id, r.dot) for r in esem_rows]
    want = [(r.vec_id, r.eval_vec_id, r.dot) for r in legacy]
    assert got == want


# --------------------------------------------------------------------
# quality_calibration_ece
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def ece_rows(spark, sf_dir):
    return QUERY_REGISTRY["quality_calibration_ece"].spark(spark, sf_dir).collect()


def test_ece_bins_cover_the_corpus(ece_rows, sf_dir):
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.n_docs for r in ece_rows) == n_docs
    bins = [r.bin for r in ece_rows]
    assert bins == sorted(bins)
    assert all(0 <= b <= _EC_BINS - 1 for b in bins)


def test_ece_bin_algebra(ece_rows):
    # mean confidence sits inside its bin's span (bin 9 absorbs 1.0),
    # accuracy is a fraction, and the ECE statistic is computable from
    # exactly these rows
    for r in ece_rows:
        lo, hi = r.bin / 10.0, (r.bin + 1) / 10.0
        slack = 1e-4  # round_div rounds mean_conf to 4 digits
        assert lo - slack <= r.mean_conf <= (
            1.0 if r.bin == _EC_BINS - 1 else hi
        ) + slack
        assert 0.0 <= r.accuracy <= 1.0
    n = sum(r.n_docs for r in ece_rows)
    ece = sum(r.n_docs * abs(r.accuracy - r.mean_conf) for r in ece_rows) / n
    assert 0.0 <= ece <= 1.0


def _doc_ids(sf_dir: str) -> list[int]:
    return [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM "
            f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
    ]


# --------------------------------------------------------------------
# domain_suffix_optout_filter
# --------------------------------------------------------------------


def _domain_for(doc_id: int) -> str:
    sub = ["www", "cdn.ads", "api"][doc_id % 3]
    tld = "com" if doc_id % 2 == 0 else "org"
    return f"{sub}.site{doc_id % 11}.{tld}"


def _optout_replay(sf_dir: str) -> dict[int, tuple[int, str]]:
    out = {}
    for doc_id in _doc_ids(sf_dir):
        dom = _domain_for(doc_id)
        labels = dom.split(".")
        hits = []
        for rule, kind in _OO_RULES:
            for pos in range(len(labels)):
                if ".".join(labels[pos:]) == rule and (
                    kind == "suffix" or pos == 0
                ):
                    hits.append(rule)
        if hits:
            out[doc_id] = (len(hits), min(hits))
    return out


@pytest.fixture(scope="module")
def oo_rows(spark, sf_dir):
    return (
        QUERY_REGISTRY["domain_suffix_optout_filter"].spark(spark, sf_dir).collect()
    )


def test_optout_replay_exact(oo_rows, sf_dir):
    expect = _optout_replay(sf_dir)
    ids = _doc_ids(sf_dir)
    assert [r.doc_id for r in oo_rows] == ids
    for r in oo_rows:
        assert r.domain == _domain_for(r.doc_id)
        if r.doc_id in expect:
            n, first = expect[r.doc_id]
            assert (r.blocked, r.n_rules, r.first_rule) == (True, n, first)
        else:
            assert (r.blocked, r.n_rules, r.first_rule) == (False, 0, "")


def test_optout_every_positive_rule_fires(oo_rows):
    """The four positive rules each block at least one doc (smallest
    hits 14 / 7 / 38 / 4, all inside the 500-doc fixture); the
    suffix rule 'ads.site7.org' fires on cdn.ads.site7.org — a PROPER
    suffix — witnessing wildcard binding beyond exact equality."""
    fired = {r.first_rule for r in oo_rows if r.blocked}
    assert fired == {
        "site3.com",
        "ads.site7.org",
        "api.site5.com",
        "cdn.ads.site4.com",
    }
    wild = [r for r in oo_rows if r.first_rule == "ads.site7.org"]
    assert all(r.domain == "cdn.ads.site7.org" for r in wild) and wild


def test_optout_exact_kind_never_suffix_matches(oo_rows):
    """'site8.org' (kind=exact) is a proper suffix of every m=8/org
    domain but never a full domain, so it must block NOTHING — the
    negative witness separating exact from suffix semantics."""
    assert ("site8.org", "exact") in _OO_RULES
    victims = [
        r
        for r in oo_rows
        if r.domain.endswith(".site8.org") and r.blocked
    ]
    assert victims == []


def _docs(sf_dir: str) -> list[tuple[int, str]]:
    return duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


# --------------------------------------------------------------------
# bloom_decontaminate_portable
# --------------------------------------------------------------------


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _positions(g: int) -> list[int]:
    h2 = 1 + g % (_BL_M - 1)
    return [(g % _BL_M + j * h2) % _BL_M for j in range(_BL_K)]


def _bloom_replay(sf_dir: str) -> dict[int, tuple[int, int, int]]:
    """Engine-free replay: doc_id -> (n_grams, n_bloom_pos, n_exact)."""
    rows = _docs(sf_dir)
    train: dict[int, list[int]] = {}
    eval_set: set[int] = set()
    for doc_id, text in rows:
        ws = text.split(" ")
        grams = (
            [
                _h60(" ".join(ws[i : i + _BL_N]))
                for i in range(len(ws) - _BL_N + 1)
            ]
            if len(ws) >= _BL_N
            else []
        )
        if doc_id % _BL_EVAL_MOD == 0:
            eval_set.update(grams)
        else:
            train[doc_id] = grams
        if doc_id % _BL_LEAK_MOD == 0:
            train[doc_id + _BL_OFFSET] = grams
    bits: set[int] = set()
    for g in eval_set:
        bits.update(_positions(g))
    out = {}
    for doc_id, grams in train.items():
        n_bloom = sum(
            1 for g in grams if all(p in bits for p in _positions(g))
        )
        n_exact = sum(1 for g in grams if g in eval_set)
        out[doc_id] = (len(grams), n_bloom, n_exact)
    return out


@pytest.fixture(scope="module")
def bl_rows(spark, sf_dir):
    return (
        QUERY_REGISTRY["bloom_decontaminate_portable"].spark(spark, sf_dir).collect()
    )


def test_bloom_replay_exact(bl_rows, sf_dir):
    expect = _bloom_replay(sf_dir)
    assert {r.doc_id for r in bl_rows} == set(expect)
    for r in bl_rows:
        n_grams, n_bloom, n_exact = expect[r.doc_id]
        assert (r.n_grams, r.n_bloom_pos, r.n_exact) == (
            n_grams,
            n_bloom,
            n_exact,
        ), r.doc_id
        assert r.n_false_pos == n_bloom - n_exact
        assert r.contaminated_bloom == (n_bloom > 0)
        assert r.contaminated_exact == (n_exact > 0)


def test_bloom_no_false_negatives(bl_rows):
    """THE Bloom contract: membership never under-reports — every
    exact hit is also a bloom hit, per doc."""
    for r in bl_rows:
        assert r.n_bloom_pos >= r.n_exact, r.doc_id
        if r.contaminated_exact:
            assert r.contaminated_bloom, r.doc_id


def test_bloom_planted_leaks_flagged(bl_rows):
    """Every planted verbatim leak long enough to carry a 13-gram MUST
    flag on BOTH detectors; its gram windows all sit in the eval set,
    so n_exact == n_grams == n_bloom_pos (no FP can exceed the total)."""
    plants = [
        r for r in bl_rows if r.doc_id >= _BL_OFFSET and r.n_grams > 0
    ]
    assert plants, "no planted leaks carry a 13-gram in the fixture"
    for r in plants:
        assert r.contaminated_exact and r.contaminated_bloom, r.doc_id
        assert r.n_exact == r.n_grams == r.n_bloom_pos, r.doc_id


def test_bloom_word_packing_constants():
    # bit 63 must stay clear (DuckDB raises on 1::BIGINT << 63) and the
    # word count must cover every position
    assert _BL_WORD == 63
    assert _BL_NWORDS * _BL_WORD >= _BL_M
    assert max(_positions(2**60 - 1)) < _BL_M


# --------------------------------------------------------------------
# l_diversity_check
# --------------------------------------------------------------------


def _ldiv_replay(sf_dir: str) -> dict[tuple, tuple[int, int]]:
    rows = duckdb.sql(
        f"""
        SELECT c.c_nationkey, c.c_mktsegment,
               CAST(floor(c.c_acctbal / {_LD_BAL_BUCKET}) AS BIGINT),
               o.o_orderpriority
        FROM read_parquet('{sf_dir}/customer.parquet') c
        JOIN read_parquet('{sf_dir}/orders.parquet') o
          ON o.o_custkey = c.c_custkey
        """
    ).fetchall()
    counts: dict[tuple, int] = {}
    sens: dict[tuple, set] = {}
    for nk, seg, bb, prio in rows:
        key = (nk, seg, bb)
        counts[key] = counts.get(key, 0) + 1
        sens.setdefault(key, set()).add(prio)
    return {k: (counts[k], len(sens[k])) for k in counts}


def test_ldiv_replay_exact(spark, sf_dir):
    rows = QUERY_REGISTRY["l_diversity_check"].spark(spark, sf_dir).collect()
    expect = _ldiv_replay(sf_dir)
    got = {
        (r.c_nationkey, r.c_mktsegment, r.bal_bucket): (
            r.n_orders,
            r.n_sensitive,
        )
        for r in rows
    }
    assert got == expect
    for r in rows:
        assert r.violates_l == (r.n_sensitive < _LD_L)


def test_ldiv_homogeneity_attack_witness(spark, sf_dir):
    """The reason l-diversity exists: groups that PASS the registered
    k-anonymity size check (n >= 5) yet expose their members through
    sensitive-value homogeneity MUST appear in the fixture — otherwise
    this query witnesses nothing k_anonymity_check doesn't."""
    rows = QUERY_REGISTRY["l_diversity_check"].spark(spark, sf_dir).collect()
    violating = [r for r in rows if r.violates_l]
    assert violating, "fixture has no l-diversity violations"
    assert any(r.n_orders >= 5 for r in violating), (
        "no k-anonymous group violates l — the homogeneity witness "
        "is gone"
    )


# --------------------------------------------------------------------
# t_closeness_check
# --------------------------------------------------------------------


def _tcl_replay(sf_dir: str):
    """Engine-free EMD replay: group -> (gsize, emd Fraction)."""
    rows = duckdb.sql(
        f"""
        SELECT c.c_nationkey, c.c_mktsegment,
               CAST(floor(c.c_acctbal / {_TC_BAL_BUCKET}) AS BIGINT),
               o.o_orderpriority
        FROM read_parquet('{sf_dir}/customer.parquet') c
        JOIN read_parquet('{sf_dir}/orders.parquet') o
          ON o.o_custkey = c.c_custkey
        """
    ).fetchall()
    glob: dict[str, int] = {}
    grp: dict[tuple, dict[str, int]] = {}
    for nat, seg, bb, pr in rows:
        glob[pr] = glob.get(pr, 0) + 1
        g = grp.setdefault((nat, seg, bb), {})
        g[pr] = g.get(pr, 0) + 1
    n_total = sum(glob.values())
    prs = sorted(glob)
    m = len(prs)
    out = {}
    for key, g in grp.items():
        gsize = sum(g.values())
        cum = 0
        num = 0
        for pr in prs:
            cum += g.get(pr, 0) * n_total - glob[pr] * gsize
            num += abs(cum)
        out[key] = (gsize, num, Fraction(num, (m - 1) * gsize * n_total))
    return out


@pytest.fixture(scope="module")
def tcl_rows(spark, sf_dir):
    return QUERY_REGISTRY["t_closeness_check"].spark(spark, sf_dir).collect()


def test_tcl_replay_exact(tcl_rows, sf_dir):
    expect = _tcl_replay(sf_dir)
    assert len(tcl_rows) == len(expect)
    for r in tcl_rows:
        gsize, num, emd = expect[
            (r.c_nationkey, r.c_mktsegment, r.bal_bucket)
        ]
        assert r.n_orders == gsize
        assert r.emd_num == num
        # the alert is the exact cross-multiplied comparison
        assert r.violates_t == (Fraction(_TC_NUM, _TC_DEN) < emd)
        # the reported double goes through the shared decimal route
        want = float(
            Decimal(emd.numerator)
            .scaleb(0)
            .__truediv__(Decimal(emd.denominator))
            .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert r.emd == pytest.approx(want, abs=0)


def test_tcl_nonvacuous_and_bounded(tcl_rows):
    flags = [r.violates_t for r in tcl_rows]
    # skewness attack witnessed AND compliant groups present
    assert any(flags) and not all(flags)
    # EMD is a normalized distance
    assert all(0.0 <= r.emd <= 1.0 for r in tcl_rows)


def test_tcl_same_grain_as_l_diversity(spark, sf_dir, tcl_rows):
    # the two audits compose into one release gate: identical group keys
    from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY

    ldiv = QUERY_REGISTRY["l_diversity_check"].spark(spark, sf_dir)
    ld_keys = {
        (r.c_nationkey, r.c_mktsegment, r.bal_bucket)
        for r in ldiv.collect()
    }
    tc_keys = {
        (r.c_nationkey, r.c_mktsegment, r.bal_bucket) for r in tcl_rows
    }
    assert tc_keys == ld_keys


# --------------------------------------------------------------------
# auc_quality_classifier
# --------------------------------------------------------------------


def _auc_replay(sf_dir: str):
    """Sort-based tie-aware AUC per lang (the classic rank-statistic
    route — deliberately a DIFFERENT algorithm than the histogram form
    under test)."""
    rows = duckdb.sql(
        f"SELECT lang, doc_id, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    by_lang: dict[str, list[tuple[int, int]]] = {}
    for lang, doc_id, n_chars in rows:
        s = n_chars // _AUC_SBUCKET
        y = 1 if s + doc_id % _AUC_NOISE >= _AUC_TH else 0
        by_lang.setdefault(lang, []).append((s, y))
    out = {}
    for lang, sy in by_lang.items():
        pos = [s for s, y in sy if y]
        neg = [s for s, y in sy if not y]
        num2 = 0  # 2 * (wins + ties/2) = 2*wins + ties
        for p in pos:
            for n in neg:
                if p > n:
                    num2 += 2
                elif p == n:
                    num2 += 1
        out[lang] = (len(pos), len(neg), num2)
    return out


def test_auc_replay_exact(spark, sf_dir):
    got = QUERY_REGISTRY["auc_quality_classifier"].spark(spark, sf_dir).collect()
    expect = _auc_replay(sf_dir)
    assert {r.lang for r in got} == set(expect)
    for r in got:
        n_pos, n_neg, num2 = expect[r.lang]
        assert (r.n_pos, r.n_neg, r.auc_num2) == (n_pos, n_neg, num2)
        # non-degenerate: the planted labels correlate but imperfectly
        assert n_pos > 0 and n_neg > 0
        assert 0.5 < r.auc < 1.0
        want = float(
            (Decimal(num2) / Decimal(2 * n_pos * n_neg))
            .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert r.auc == pytest.approx(want, abs=0)


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
    got = QUERY_REGISTRY["pii_cluster_contagion"].spark(spark, sf_dir).collect()
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
    got = QUERY_REGISTRY["pii_cluster_contagion"].spark(spark, sf_dir).collect()
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
    got = QUERY_REGISTRY["intra_doc_line_dedup"].spark(spark, sf_dir).collect()
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
    got = QUERY_REGISTRY["intra_doc_line_dedup"].spark(spark, sf_dir).collect()
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


def _source_docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, lang, source, text FROM "
        f"'{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


# --------------------------------------------------------------------
# pii_redact_spans
# --------------------------------------------------------------------


def _rd_plant(doc_id: int, text: str) -> str:
    if doc_id % _RD_MOD == 0:
        return (
            f"{text} contact user{1_000_000 + doc_id}"
            "@mail.example.com now"
        )
    if doc_id % _RD_MOD == 4:
        return f"{text} ref {2_000_000 + doc_id} code"
    if doc_id % _RD_MOD == 7:
        return (
            f"{text} a{3_000_000 + doc_id}@x.org and "
            f"{4_000_000 + doc_id}"
        )
    return text


def _rd_replay(txt: str):
    n_email = len(re.findall(_RD_EMAIL, txt))
    t1 = re.sub(_RD_EMAIL, _RD_EMAIL_TOK, txt)
    n_id = len(re.findall(_RD_ID, t1))
    t2 = re.sub(_RD_ID, _RD_ID_TOK, t1)
    resid = len(re.findall(_RD_EMAIL, t2)) + len(re.findall(_RD_ID, t2))
    return n_email, n_id, resid, t2


def test_redact_replay_matches_spark(spark, sf_dir):
    docs = {d: t for d, _, _, t in _source_docs(sf_dir)}
    rows = QUERY_REGISTRY["pii_redact_spans"].spark(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    tot_email = tot_id = 0
    for r in rows:
        n_email, n_id, resid, t2 = _rd_replay(
            _rd_plant(r.doc_id, docs[r.doc_id])
        )
        assert (r.n_email, r.n_id) == (n_email, n_id)
        assert r.n_residual == resid == 0
        assert r.out_len == len(t2)
        assert r.out_md5 == hashlib.md5(t2.encode()).hexdigest()
        tot_email += r.n_email
        tot_id += r.n_id
    # every plant family fires (residues 0, 4, 7 all exist)
    assert tot_email > 0 and tot_id > 0


def test_redact_ordering_witness():
    # the planted email's 7-digit local part: redacting digit runs
    # FIRST shreds the address, so the email rule no longer matches —
    # the ordering the query pins is not decorative
    txt = "x contact user1000018@mail.example.com now"
    n_email, n_id, resid, out = _rd_replay(txt)
    assert n_email == 1 and n_id == 0 and resid == 0
    assert "<EMAIL>" in out and "1000018" not in out
    # wrong order: ID first shreds the local part — the '<ID>' token
    # breaks the [a-z0-9._]+ run before '@', so the email rule can no
    # longer match AT ALL and the address leaks half-redacted
    bad1 = re.sub(_RD_ID, _RD_ID_TOK, txt)
    assert "user<ID>@mail.example.com" in bad1
    assert len(re.findall(_RD_EMAIL, bad1)) == 0
    bad2 = re.sub(_RD_EMAIL, _RD_EMAIL_TOK, bad1)
    assert "@mail.example.com" in bad2  # the domain leaks
    assert bad2 != out  # different bytes — the hash catches it


def test_threshold_sweep_is_a_pr_curve(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["quality_threshold_sweep"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert len(rows) >= 3
    total_pos = rows[0]["tp"] + rows[0]["fn"]
    assert total_pos > 0
    # both classes present (the label threshold splits the fixture)
    assert any(r["fp"] > 0 for r in rows)
    bs = [r["threshold_bucket"] for r in rows]
    assert bs == sorted(bs)
    prev_tp, prev_pred = None, None
    for r in rows:
        assert r["tp"] + r["fn"] == total_pos  # fixed ground truth
        assert r["n_pred_pos"] == r["tp"] + r["fp"]
        assert r["n_pred_pos"] >= 1  # thresholds come from seen buckets
        assert 0.0 <= r["precision"] <= 1.0
        assert 0.0 <= r["recall"] <= 1.0
        assert 0.0 <= r["f1"] <= 1.0
        # raising the threshold can only shrink the predicted set
        if prev_tp is not None:
            assert r["tp"] <= prev_tp
            assert r["n_pred_pos"] < prev_pred  # strict: each bucket kept
        prev_tp, prev_pred = r["tp"], r["n_pred_pos"]
        assert abs(r["threshold"] - r["threshold_bucket"] / 20) < 1e-12
    # the lowest threshold predicts everything positive: recall = 1
    assert rows[0]["recall"] == 1.0
    assert rows[0]["fn"] == 0
