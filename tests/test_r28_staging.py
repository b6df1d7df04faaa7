"""Semantic pins for the round-28-batch operators
(queries/r28_staging.py). Oracle parity is covered by
tests/test_queries_oracle.py; this file keeps the invariants the
value-hash can't express: the Heaps curve's first-occurrence replay
with the strictly-increasing and cumulative-consistency pins, a full
pure-python clipped-ROUGE replay with the clip-refuses-to-double-count
witness, and the span scorer's perturbation replay with the
shifted-span-matches-nothing property."""

import hashlib
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r28_staging import (
    _HV_DECILES,
    _HV_PLANT_MOD,
    _RG_CUT_DEN,
    _RG_CUT_NUM,
    _RG_EVAL_MOD,
    _SP_A,
    _SP_B,
    _SP_MOD,
    _SP_SPUR_MOD,
)

R28_NAMES = [
    "heaps_vocab_growth_curve",
    "rouge_n_eval_overlap",
    "span_match_f1",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R28_NAMES}


def test_r28_staging_composition():
    assert set(R28_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R28_NAMES)


@pytest.mark.parametrize("name", R28_NAMES)
def test_r28_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


def _docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _round_div(n, d, digits=6) -> float:
    q = Decimal("0." + "0" * (digits + 3) + "1")
    o = Decimal("0." + "0" * (digits - 1) + "1")
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(q, rounding=ROUND_HALF_UP)
        .quantize(o, rounding=ROUND_HALF_UP)
    )


# --------------------------------------------------------------------
# heaps_vocab_growth_curve
# --------------------------------------------------------------------


def _hv_ws(doc_id: int, text: str) -> list:
    if doc_id % _HV_PLANT_MOD == 0:
        text = f"{text} uniq{doc_id}"
    return text.split(" ")


def test_heaps_replay_matches_spark(spark, sf_dir):
    docs = _docs(sf_dir)
    n = len(docs)
    first: dict = {}
    sizes = {}
    for doc_id, text in docs:
        ws = _hv_ws(doc_id, text)
        sizes[doc_id] = len(ws)
        for tok in ws:
            first.setdefault(tok, doc_id)
    rows = QUERIES["heaps_vocab_growth_curve"].spark(
        spark, sf_dir
    ).collect()
    assert len(rows) == _HV_DECILES
    prev_vocab = prev_tokens = 0
    for r in sorted(rows, key=lambda x: x.decile):
        cutoff = (n * r.decile) // _HV_DECILES - 1
        assert r.cutoff_doc_id == cutoff
        vocab = sum(1 for d in first.values() if d <= cutoff)
        toks = sum(s for d, s in sizes.items() if d <= cutoff)
        ndocs = sum(1 for d, _ in docs if d <= cutoff)
        assert (r.n_docs, r.n_tokens, r.vocab_size) == (ndocs, toks, vocab)
        assert r.type_token_ratio == _round_div(vocab, toks)
        # the planted never-seen tokens keep the curve strictly
        # increasing — the first-occurrence algebra is live everywhere
        assert r.vocab_size > prev_vocab
        assert r.n_tokens > prev_tokens
        prev_vocab, prev_tokens = r.vocab_size, r.n_tokens


# --------------------------------------------------------------------
# rouge_n_eval_overlap
# --------------------------------------------------------------------


def _rg_pair(text: str):
    ws = text.split(" ")
    cand = ws[: (len(ws) * _RG_CUT_NUM) // _RG_CUT_DEN] + [
        ws[0],
        "zz9",
        "zz8",
    ]
    return ws, cand


def _clipped(ref_grams, cand_grams) -> int:
    rc, cc = Counter(ref_grams), Counter(cand_grams)
    return sum(min(c, rc[g]) for g, c in cc.items())


def test_rouge_replay_matches_spark(spark, sf_dir):
    docs = dict(_docs(sf_dir))
    rows = QUERIES["rouge_n_eval_overlap"].spark(spark, sf_dir).collect()
    assert len(rows) == sum(1 for d in docs if d % _RG_EVAL_MOD == 0)
    for r in rows:
        ref, cand = _rg_pair(docs[r.doc_id])
        bi = lambda ws: [  # noqa: E731
            f"{a} {b}" for a, b in zip(ws, ws[1:])
        ]
        m1 = _clipped(ref, cand)
        m2 = _clipped(bi(ref), bi(cand))
        assert (r.m1, r.lc1, r.lr1) == (m1, len(cand), len(ref))
        assert (r.m2, r.lc2, r.lr2) == (m2, len(cand) - 1, len(ref) - 1)
        assert r.rouge1_p == _round_div(m1, len(cand))
        assert r.rouge1_r == _round_div(m1, len(ref))
        assert r.rouge1_f1 == _round_div(2 * m1, len(cand) + len(ref))
        assert r.rouge2_f1 == _round_div(
            2 * m2, (len(cand) - 1) + (len(ref) - 1)
        )
        # the construction's regime: alien tokens depress precision,
        # the prefix cut depresses recall, neither is degenerate
        assert 0 < r.rouge1_p < 1
        assert 0 < r.rouge1_r <= 1


def test_rouge_single_token_reference_is_safe(spark):
    # regression (round-14 self-review): sequence(1, size-1) DESCENDS
    # to [1, 0] for a 1-token doc and ANSI element_at threw — the
    # zip_with-of-slices bigram form must yield empty bigram bags and
    # a well-defined row instead
    from market_pulse_data_pipeline_spark.queries.r28_staging import (
        rouge_n_eval_overlap_from,
    )

    refs = spark.createDataFrame([(0, "solo")], ["doc_id", "text"])
    row = rouge_n_eval_overlap_from(refs).collect()
    assert len(row) == 1
    r = row[0]
    # cand = [] (80% of 1 token) + [lead, zz9, zz8] → unigram match 1
    assert (r.lr1, r.lc1, r.m1) == (1, 3, 1)
    # no reference bigrams exist: lr2 = 0, m2 = 0 — and no crash
    assert (r.lr2, r.m2) == (0, 0)


def test_rouge_clip_refuses_to_double_count():
    # the duplicated lead token: candidate count 2, reference count 1
    # — clipped matching credits it ONCE (bag-min), where naive set
    # or sum matching would credit 2
    ref = ["alpha", "beta", "gamma", "delta", "epsilon"]
    cand = ref[:4] + [ref[0], "zz9", "zz8"]
    assert cand.count("alpha") == 2
    m = _clipped(ref, cand)
    assert m == 4  # alpha(1, clipped) + beta + gamma + delta
    naive = sum(1 for g in cand if g in set(ref))
    assert naive == 5  # the bug clipping prevents


# --------------------------------------------------------------------
# span_match_f1
# --------------------------------------------------------------------


def _sp_replay(docs):
    gold = set()
    for doc_id, text in docs:
        ws = text.split(" ")
        for p in range(len(ws) - 1):
            if ws[p] == _SP_A and ws[p + 1] == _SP_B:
                gold.add((doc_id, p + 1))  # 1-based like the query
    pred = set()
    for doc_id, start in gold:
        h = _md5_60(f"{doc_id}:{start}:sp") % _SP_MOD
        if h == 0:
            continue
        pred.add((doc_id, start + 1 if h == 1 else start))
    for doc_id, _ in docs:
        if _md5_60(f"{doc_id}:spur") % _SP_SPUR_MOD == 0:
            pred.add((doc_id, doc_id % 3))
    return gold, pred


def test_span_f1_replay_matches_spark(spark, sf_dir):
    gold, pred = _sp_replay(_docs(sf_dir))
    tp = len(gold & pred)
    row = QUERIES["span_match_f1"].spark(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert (r.n_gold, r.n_pred, r.tp) == (len(gold), len(pred), tp)
    assert r.precision_ == _round_div(tp, len(pred))
    assert r.recall_ == _round_div(tp, len(gold))
    assert r.f1 == _round_div(2 * tp, len(pred) + len(gold))
    # the discriminating regime: some spans dropped, some shifted,
    # some spurious — P and R both strictly inside (0, 1)
    assert 0 < r.precision_ < 1
    assert 0 < r.recall_ < 1


def test_span_shifted_matches_nothing(spark, sf_dir):
    # exact-span semantics: a +1-shifted prediction is NOT a partial
    # credit — it is absent from gold entirely (unless it collides
    # with a different gold span, which the fixture's bigram spacing
    # prevents for at least one shifted span)
    gold, pred = _sp_replay(_docs(sf_dir))
    shifted = set()
    for doc_id, start in gold:
        if _md5_60(f"{doc_id}:{start}:sp") % _SP_MOD == 1:
            shifted.add((doc_id, start + 1))
    assert shifted  # the perturbation class is non-empty
    assert shifted - gold  # at least one shifted span matches nothing
    # dropped spans exist too (recall misses are real)
    dropped = {
        (d, s)
        for d, s in gold
        if _md5_60(f"{d}:{s}:sp") % _SP_MOD == 0
    }
    assert dropped
