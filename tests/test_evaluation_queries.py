"""Semantic pins for the queries/evaluation.py rows: pure-Python replays,
planted-witness contracts and fixture guards that the value-hash
compare in tests/test_queries_oracle.py can't express."""

import hashlib
import random
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.evaluation import (
    _BS_B,
    _BS_SCALE,
    _BS_T0,
    _BS_T1,
    _BS_T2,
    _BS_T3,
    _KP_FLIP_LT,
    _KP_FLIP_MOD,
    _KP_THRESH,
    _RG_CUT_DEN,
    _RG_CUT_NUM,
    _RG_EVAL_MOD,
    _RL_DROP,
    _RL_EVAL_MOD,
    _RL_MID,
    _RL_TAIL,
    _SP_A,
    _SP_B,
    _SP_MOD,
    _SP_SPUR_MOD,
    _lcs_len,
)


def _sized_docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, lang, text, n_chars FROM "
        f"'{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _round_div(n, d) -> float:
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
        .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


# --------------------------------------------------------------------
# cohens_kappa_agreement
# --------------------------------------------------------------------


def _kappa_replay(docs):
    ct: dict = {}
    for doc_id, lang, _, n_chars in docs:
        la = 1 if n_chars >= _KP_THRESH else 0
        flip = (_md5_60(f"{doc_id}:ann") % _KP_FLIP_MOD) < _KP_FLIP_LT
        lb = 1 - la if flip else la
        t = ct.setdefault(lang, [0, 0, 0, 0])
        t[la * 2 + lb] += 1
    out = {}
    for lang, (n00, n01, n10, n11) in ct.items():
        n = n00 + n01 + n10 + n11
        pe = (n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)
        out[lang] = (
            n,
            n00,
            n01,
            n10,
            n11,
            _round_div(n * (n00 + n11) - pe, n * n - pe),
        )
    return out


def test_kappa_replay_matches_spark(spark, sf_dir):
    expect = _kappa_replay(_sized_docs(sf_dir))
    rows = QUERY_REGISTRY["cohens_kappa_agreement"].spark(spark, sf_dir).collect()
    assert {r.lang for r in rows} == set(expect)
    for r in rows:
        n, n00, n01, n10, n11, kappa = expect[r.lang]
        assert (r.n, r.n00, r.n01, r.n10, r.n11) == (n, n00, n01, n10, n11)
        assert r.kappa == kappa
        # the ~15% flip makes disagreement non-vacuous, and agreement
        # stays far above chance but below perfect — the regime where
        # kappa actually discriminates
        assert r.n01 + r.n10 > 0
        assert 0.5 < r.kappa < 1.0


# --------------------------------------------------------------------
# bootstrap_metric_ci
# --------------------------------------------------------------------


def _bs_mult(doc_id: int, r: int) -> int:
    u = _md5_60(f"{doc_id}#{r}") % _BS_SCALE
    if u < _BS_T0:
        return 0
    if u < _BS_T1:
        return 1
    if u < _BS_T2:
        return 2
    if u < _BS_T3:
        return 3
    return 4


def test_bootstrap_replay_matches_spark(spark, sf_dir):
    docs = _sized_docs(sf_dir)
    rows = QUERY_REGISTRY["bootstrap_metric_ci"].spark(spark, sf_dir).collect()
    langs = {d[1] for d in docs}
    assert len(rows) == len(langs) * _BS_B
    # replay one full language end-to-end (the smallest one)
    lang = min(langs, key=lambda g: sum(1 for d in docs if d[1] == g))
    sub = [(d[0], d[3]) for d in docs if d[1] == lang]
    means = []
    for r in range(_BS_B):
        n_eff = sum(_bs_mult(i, r) for i, _ in sub)
        tot = sum(_bs_mult(i, r) * c for i, c in sub)
        means.append((r, n_eff, _round_div(tot, n_eff)))
    got = sorted(
        (r.replicate, r.n_eff, r.rep_mean)
        for r in rows
        if r.lang == lang
    )
    assert got == means
    # CI columns: 2nd / 39th order statistic of the replicate means
    srt = sorted(m for _, _, m in means)
    row = next(r for r in rows if r.lang == lang)
    assert row.ci_lo == srt[1]
    assert row.ci_hi == srt[_BS_B - 2]
    assert row.ci_lo <= row.point_mean <= row.ci_hi
    # the resample genuinely varies (not a constant-multiplicity bug)
    assert len(set(srt)) > 1
    point = _round_div(sum(c for _, c in sub), len(sub))
    assert row.point_mean == point


def _docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()


def _round_div6(n, d, digits=6) -> float:
    q = Decimal("0." + "0" * (digits + 3) + "1")
    o = Decimal("0." + "0" * (digits - 1) + "1")
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(q, rounding=ROUND_HALF_UP)
        .quantize(o, rounding=ROUND_HALF_UP)
    )


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
    rows = QUERY_REGISTRY["rouge_n_eval_overlap"].spark(spark, sf_dir).collect()
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
        assert r.rouge1_p == _round_div6(m1, len(cand))
        assert r.rouge1_r == _round_div6(m1, len(ref))
        assert r.rouge1_f1 == _round_div6(2 * m1, len(cand) + len(ref))
        assert r.rouge2_f1 == _round_div6(
            2 * m2, (len(cand) - 1) + (len(ref) - 1)
        )
        # the construction's regime: alien tokens depress precision,
        # the prefix cut depresses recall, neither is degenerate
        assert 0 < r.rouge1_p < 1
        assert 0 < r.rouge1_r <= 1


def test_rouge_single_token_reference_is_safe(spark):
    # regression: sequence(1, size-1) DESCENDS
    # to [1, 0] for a 1-token doc and ANSI element_at threw — the
    # zip_with-of-slices bigram form must yield empty bigram bags and
    # a well-defined row instead
    from market_pulse_data_pipeline_spark.queries.evaluation import (
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
    row = QUERY_REGISTRY["span_match_f1"].spark(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert (r.n_gold, r.n_pred, r.tp) == (len(gold), len(pred), tp)
    assert r.precision_ == _round_div6(tp, len(pred))
    assert r.recall_ == _round_div6(tp, len(gold))
    assert r.f1 == _round_div6(2 * tp, len(pred) + len(gold))
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


def _lcs_textbook(a, b):
    # the if/else textbook recurrence — deliberately NOT the max-form
    # the shipping kernel uses, so agreement pins the equivalence proof
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0] * (len(b) + 1)
        for j, y in enumerate(b, 1):
            cur[j] = (
                prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
            )
        prev = cur
    return prev[len(b)]


def _rl_pair(text):
    ws = text.split(" ")
    kept = [w for i, w in enumerate(ws, 1) if i % _RL_DROP != 0]
    h = len(kept) // 2
    cand = kept[:h] + [_RL_MID] + kept[h:] + [ws[0], _RL_TAIL]
    return ws, cand


def test_rouge_l_replay_matches_spark(spark, sf_dir):
    import duckdb

    docs = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    )
    rows = QUERY_REGISTRY["rouge_l_eval_overlap"].spark(spark, sf_dir).collect()
    assert len(rows) == sum(1 for d in docs if d % _RL_EVAL_MOD == 0)
    for r in rows:
        ref, cand = _rl_pair(docs[r.doc_id])
        want = _lcs_textbook(ref, cand)
        assert (r.lcs_len, r.lc, r.lr) == (want, len(cand), len(ref))
        # the kept tokens are a common subsequence by construction, so
        # the DP can never score below them; the drops keep recall < 1
        # whenever a token was actually dropped
        kept = len(ref) - len(ref) // _RL_DROP
        assert r.lcs_len >= kept
        assert 0 < r.rouge_l_p < 1  # alien splices depress precision
        assert 0 < r.rouge_l_r <= 1


def test_rouge_l_is_order_sensitive(spark):
    # the property that separates ROUGE-L from the ROUGE-1/2 bag-overlap
    # family: a bag-identical REVERSED candidate keeps ROUGE-1 at 1.0
    # but collapses the LCS to the longest run the reversal preserves
    # (1 for distinct tokens)
    ref = ["a", "b", "c", "d", "e"]
    df = spark.createDataFrame(
        [(ref, ref), (ref, list(reversed(ref)))], ["r", "c"]
    )
    got = [
        row["l"]
        for row in df.select(_lcs_len("r", "c").alias("l")).collect()
    ]
    assert got == [5, 1]


def test_lcs_kernel_matches_textbook_on_fuzzed_pairs(spark):
    # one Spark pass over a fuzzed batch: small alphabet forces ties
    # and repeats (the max-form's risk surface); empties and singletons
    # pin the boundary rows
    rng = random.Random(20260817)
    pairs = [([], []), ([], ["a"]), (["a"], []), (["a"], ["a"])]
    for _ in range(60):
        n, m = rng.randrange(0, 12), rng.randrange(0, 12)
        pairs.append(
            (
                [rng.choice(["a", "b", "c"]) for _ in range(n)],
                [rng.choice(["a", "b", "c"]) for _ in range(m)],
            )
        )
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], ["i", "r", "c"]
    )
    got = {
        row["i"]: row["l"]
        for row in df.select("i", _lcs_len("r", "c").alias("l")).collect()
    }
    for i, (a, b) in enumerate(pairs):
        assert got[i] == _lcs_textbook(a, b), (i, a, b)


def test_rouge_l_single_token_reference_is_safe(spark):
    from market_pulse_data_pipeline_spark.queries.evaluation import (
        rouge_l_eval_overlap_from,
    )

    refs = spark.createDataFrame([(0, "solo")], ["doc_id", "text"])
    rows = rouge_l_eval_overlap_from(refs).collect()
    assert len(rows) == 1
    r = rows[0]
    # kept = [solo] (position 1 survives the %3 drop), half = 0 →
    # cand = [zz7, solo, solo, zz9]; LCS = 1 and the row is
    # well-defined (no descending-sequence / ANSI element_at hazard)
    assert (r.lr, r.lc, r.lcs_len) == (1, 4, 1)
    assert r.rouge_l_r == 1.0


@settings(max_examples=50, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10**6))
def test_bootstrap_multiplicity_total_and_calibrated(seed):
    def mult(doc_id, r):
        u = int(
            hashlib.md5(f"{doc_id}#{r}".encode()).hexdigest()[:15], 16
        ) % _BS_SCALE
        if u < _BS_T0:
            return 0
        if u < _BS_T1:
            return 1
        if u < _BS_T2:
            return 2
        if u < _BS_T3:
            return 3
        return 4

    draws = Counter(mult(seed + i, i % 7) for i in range(400))
    assert set(draws) <= {0, 1, 2, 3, 4}
    # loose calibration band: P(0) and P(1) are each ~0.368 — over
    # 400 hash-uniform draws the observed counts stay in a wide band
    # (this is a sanity property, not a statistical test)
    assert 90 <= draws[0] <= 210
    assert 90 <= draws[1] <= 210
