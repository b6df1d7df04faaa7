"""Semantic pins for the round-27-batch operators
(queries/r27_staging.py). Oracle parity is covered by
tests/test_queries_oracle.py; this file keeps the invariants the
value-hash can't express: a full pure-python replay of both fold
strategies with the group-folding-never-splits-a-source pin and the
by_doc > by_group leakage contrast, a regex replay of the redaction
chain with the email-before-digits ordering witness, and the
frequency-spectrum replay with the bit-length bucket identity."""

import hashlib
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r27_staging import (
    _KF_CROSS_MOD,
    _KF_K,
    _KF_SAME_MOD,
    _KF_TWIN_OFFSET,
    _RD_EMAIL,
    _RD_EMAIL_TOK,
    _RD_ID,
    _RD_ID_TOK,
    _RD_MOD,
)

R27_NAMES = [
    "group_kfold_leakage_audit",
    "pii_redact_spans",
    "zipf_token_frequency_profile",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R27_NAMES}


def test_r27_staging_composition():
    assert set(R27_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R27_NAMES)


@pytest.mark.parametrize("name", R27_NAMES)
def test_r27_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


def _docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, lang, source, text FROM "
        f"'{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _round_div(n, d, digits=4) -> float:
    q = Decimal("0." + "0" * (digits + 3) + "1")
    o = Decimal("0." + "0" * (digits - 1) + "1")
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(q, rounding=ROUND_HALF_UP)
        .quantize(o, rounding=ROUND_HALF_UP)
    )


# --------------------------------------------------------------------
# group_kfold_leakage_audit
# --------------------------------------------------------------------


def _kf_corpus(docs):
    corpus = [(d, src, txt) for d, _, src, txt in docs]
    for d, _, src, txt in docs:
        if d % _KF_SAME_MOD == 0:
            corpus.append((d + _KF_TWIN_OFFSET, src, txt))
        elif d % _KF_CROSS_MOD == 0:
            corpus.append(
                (d + _KF_TWIN_OFFSET, f"src_{(d * 7 + 3) % 20}", txt)
            )
    return corpus


def _kf_replay(docs):
    corpus = _kf_corpus(docs)
    rows = []
    for strategy in ("by_doc", "by_group"):
        assign = []
        for d, src, txt in corpus:
            key = f"{d}:fold" if strategy == "by_doc" else f"{src}:fold"
            assign.append(
                (d, src, hashlib.md5(txt.encode()).hexdigest(),
                 _md5_60(key) % _KF_K)
            )
        by_digest: dict = {}
        for d, src, dig, fold in assign:
            by_digest.setdefault(dig, []).append((d, src, fold))
        n_pairs = n_leaked = 0
        leaked_same_source = 0
        for members in by_digest.values():
            members.sort()
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    n_pairs += 1
                    if members[i][2] != members[j][2]:
                        n_leaked += 1
                        if members[i][1] == members[j][1]:
                            leaked_same_source += 1
        folds = Counter(f for _, _, _, f in assign)
        rows.append(
            (strategy, n_pairs, n_leaked, leaked_same_source, folds,
             len(assign))
        )
    return rows


def test_kfold_replay_matches_spark(spark, sf_dir):
    expect = {r[0]: r for r in _kf_replay(_docs(sf_dir))}
    rows = QUERIES["group_kfold_leakage_audit"].spark(
        spark, sf_dir
    ).collect()
    assert len(rows) == 2 * _KF_K
    for r in rows:
        _, n_pairs, n_leaked, _, folds, n_corpus = expect[r.strategy]
        assert r.n_pairs == n_pairs
        assert r.n_leaked == n_leaked
        assert r.n_docs == folds[r.fold]
        assert r.leak_ratio == _round_div(n_leaked, n_pairs)
    # fold counts sum to the corpus size per strategy
    for strat in ("by_doc", "by_group"):
        tot = sum(r.n_docs for r in rows if r.strategy == strat)
        assert tot == expect[strat][5]


def test_kfold_leakage_contrast(spark, sf_dir):
    rep = {r[0]: r for r in _kf_replay(_docs(sf_dir))}
    # per-doc folding leaks duplicate pairs; group folding leaks
    # strictly fewer (only the cross-source residual)
    assert rep["by_doc"][2] > 0
    assert rep["by_group"][2] < rep["by_doc"][2]
    # the GroupKFold guarantee: a same-source duplicate pair can NEVER
    # split across folds under group folding
    assert rep["by_group"][3] == 0
    # ...but per-doc folding does split same-source pairs (the leak
    # the strategy exists to fix — non-vacuous)
    assert rep["by_doc"][3] > 0
    # cross-source residual is present (the honest limitation)
    assert rep["by_group"][2] > 0


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
    docs = {d: t for d, _, _, t in _docs(sf_dir)}
    rows = QUERIES["pii_redact_spans"].spark(spark, sf_dir).collect()
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


# --------------------------------------------------------------------
# zipf_token_frequency_profile
# --------------------------------------------------------------------


def test_zipf_replay_matches_spark(spark, sf_dir):
    docs = _docs(sf_dir)
    tf: Counter = Counter()
    for _, lang, _, text in docs:
        for tok in text.split(" "):
            tf[(lang, tok)] += 1
    rows = QUERIES["zipf_token_frequency_profile"].spark(
        spark, sf_dir
    ).collect()
    # replay the spectrum + totals
    spec: dict = {}
    totals: dict = {}
    for (lang, _), freq in tf.items():
        b = freq.bit_length() - 1  # == len(bin(freq)) - 1
        s = spec.setdefault((lang, b), [0, 0, None, None])
        s[0] += 1
        s[1] += freq
        s[2] = freq if s[2] is None else min(s[2], freq)
        s[3] = freq if s[3] is None else max(s[3], freq)
        t = totals.setdefault(lang, [0, 0, 0, 0])
        t[0] += 1
        t[1] += freq
        t[2] += 1 if freq == 1 else 0
        t[3] += 1 if freq == 2 else 0
    assert len(rows) == len(spec)
    for r in rows:
        n_types, n_tokens, mn, mx = spec[(r.lang, r.log2_bucket)]
        assert (r.n_types, r.n_tokens, r.min_freq, r.max_freq) == (
            n_types,
            n_tokens,
            mn,
            mx,
        )
        vocab, total, hapax, dis = totals[r.lang]
        assert (r.vocab_size, r.total_tokens) == (vocab, total)
        assert (r.hapax_types, r.dis_types) == (hapax, dis)
        assert r.type_token_ratio == _round_div(vocab, total, 6)
        # the bucket identity: every freq in bucket b satisfies
        # 2^b <= freq < 2^(b+1)
        assert (1 << r.log2_bucket) <= r.min_freq
        assert r.max_freq < (1 << (r.log2_bucket + 1))
    # the spectrum is non-degenerate: multiple buckets per corpus
    assert len({r.log2_bucket for r in rows}) >= 3
