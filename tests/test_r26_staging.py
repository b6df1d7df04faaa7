"""Semantic pins for the round-26-batch operators
(queries/r26_staging.py). Oracle parity is covered by
tests/test_queries_oracle.py; this file keeps the invariants the
value-hash can't express: a full pure-python replay of the word2phrase
score with the planted-collocation / natural-rejection split, a
Decimal replay of the kappa contingency algebra with the
non-vacuous-disagreement and above-chance pins, and the bootstrap's
multiplicity replay plus the order-statistic CI bracketing."""

import hashlib
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r26_staging import (
    _BS_B,
    _BS_SCALE,
    _BS_T0,
    _BS_T1,
    _BS_T2,
    _BS_T3,
    _KP_FLIP_LT,
    _KP_FLIP_MOD,
    _KP_THRESH,
    _PMI_DELTA,
    _PMI_MIN,
    _PMI_MOD_A,
    _PMI_MOD_B,
    _PMI_THETA_DEN,
    _PMI_THETA_NUM,
)

R26_NAMES = [
    "pmi_collocation_mining",
    "cohens_kappa_agreement",
    "bootstrap_metric_ci",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R26_NAMES}


def test_r26_staging_composition():
    assert set(R26_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R26_NAMES)


@pytest.mark.parametrize("name", R26_NAMES)
def test_r26_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


def _docs(sf_dir):
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
# pmi_collocation_mining
# --------------------------------------------------------------------


def _pmi_replay(docs):
    uni: Counter = Counter()
    bi: Counter = Counter()
    for doc_id, _, text, _ in docs:
        if doc_id % _PMI_MOD_A == 0:
            text = text + " qq ww"
        elif doc_id % _PMI_MOD_B == 0:
            text = text + " qq zz"
        ws = text.split(" ")
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    n = sum(uni.values())
    out = {}
    for (a, b), cab in bi.items():
        if cab < _PMI_MIN:
            continue
        acc = (cab - _PMI_DELTA) * n * _PMI_THETA_DEN > (
            _PMI_THETA_NUM * uni[a] * uni[b]
        )
        out[(a, b)] = (
            cab,
            uni[a],
            uni[b],
            _round_div((cab - _PMI_DELTA) * n, uni[a] * uni[b]),
            1 if acc else 0,
        )
    return out


def test_pmi_replay_matches_spark(spark, sf_dir):
    expect = _pmi_replay(_docs(sf_dir))
    rows = QUERIES["pmi_collocation_mining"].spark(spark, sf_dir).collect()
    assert len(rows) == len(expect)
    for r in rows:
        cab, ca, cb, score, acc = expect[(r.token_a, r.token_b)]
        assert (r.cnt_ab, r.cnt_a, r.cnt_b) == (cab, ca, cb)
        assert r.score == score
        assert r.accepted == acc


def test_pmi_plants_accepted_naturals_rejected(spark, sf_dir):
    rows = QUERIES["pmi_collocation_mining"].spark(spark, sf_dir).collect()
    acc = {(r.token_a, r.token_b) for r in rows if r.accepted == 1}
    # both planted collocations fire: their tokens never appear apart
    assert ("qq", "ww") in acc and ("qq", "zz") in acc
    # the shared anchor's marginal exceeds either bigram count (the
    # discount the plants exercise)
    qq = {r.token_a: r for r in rows if (r.token_a, r.token_b) == ("qq", "ww")}
    assert qq["qq"].cnt_a > qq["qq"].cnt_ab
    # every natural bigram (neither token planted) is rejected — the
    # fixture vocabulary is near-uniform, score ~1.3 < theta
    planted_toks = {"qq", "ww", "zz"}
    naturals = [
        r
        for r in rows
        if not ({r.token_a, r.token_b} & planted_toks)
    ]
    assert naturals and all(r.accepted == 0 for r in naturals)
    # rejection is non-vacuous and dominant
    assert len(naturals) > 100


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
    expect = _kappa_replay(_docs(sf_dir))
    rows = QUERIES["cohens_kappa_agreement"].spark(spark, sf_dir).collect()
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
    docs = _docs(sf_dir)
    rows = QUERIES["bootstrap_metric_ci"].spark(spark, sf_dir).collect()
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
