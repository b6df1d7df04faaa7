"""Semantic pins for the queries/corpus.py rows: pure-Python replays,
planted-witness contracts and fixture guards that the value-hash
compare in tests/test_queries_oracle.py can't express."""

import hashlib
import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.corpus import (
    _CAP,
    _CU_BUDGET,
    _DM_CAP_MILLI,
    _DS_B,
    _DS_CAP_MICRO,
    _DS_KEEP_DEN,
    _DS_TARGET_LANG,
    _DS_U_MAX,
    _HP_CAP,
    _HV_DECILES,
    _HV_PLANT_MOD,
    _PS_MIDDLE_HEX,
    _PS_TAIL_HEX,
    _RV_SHARDS,
    _UX_B_DEN,
    _UX_B_NUM,
    _UX_CAP_DEN,
)


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


# --------------------------------------------------------------------
# perplexity_stratified_sample
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def sample_rows(spark, sf_dir):
    return (
        QUERY_REGISTRY["perplexity_stratified_sample"].spark(spark, sf_dir).collect()
    )


def test_sample_head_keeps_everything(sample_rows):
    heads = [r for r in sample_rows if r.bucket == "head"]
    assert heads and all(r.sampled for r in heads)


def test_sample_gate_is_the_documented_md5_rule(sample_rows):
    # recompute the content-free Bernoulli gate in pure Python: the
    # sampled flag must be exactly the two-hex-digit md5 threshold
    for r in sample_rows:
        hx = hashlib.md5(str(r.doc_id).encode()).hexdigest()[:2]
        expect = (
            True
            if r.bucket == "head"
            else hx <= (_PS_MIDDLE_HEX if r.bucket == "middle" else _PS_TAIL_HEX)
        )
        assert r.sampled == expect, (r.doc_id, r.bucket, hx)


def test_sample_is_nested_and_stratified(sample_rows):
    # one row per doc; the tail threshold is a strict subset of the
    # middle threshold, so rate(tail) < rate(middle) on any corpus
    # slice large enough to see both
    assert len({r.doc_id for r in sample_rows}) == len(sample_rows)
    mids = [r for r in sample_rows if r.bucket == "middle"]
    tails = [r for r in sample_rows if r.bucket == "tail"]
    assert mids and tails
    mid_rate = sum(r.sampled for r in mids) / len(mids)
    tail_rate = sum(r.sampled for r in tails) / len(tails)
    assert tail_rate < mid_rate


# --------------------------------------------------------------------
# doremi_excess_loss_reweight
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def dm_rows(spark, sf_dir):
    return (
        QUERY_REGISTRY["doremi_excess_loss_reweight"].spark(spark, sf_dir).collect()
    )


def test_doremi_weights_normalize_and_factor_bounded(dm_rows):
    assert len(dm_rows) == 20  # one row per fixture domain
    assert sum(r.weight for r in dm_rows) == pytest.approx(1.0, abs=1e-4)
    for r in dm_rows:
        assert 1000 <= r.factor_milli <= 1000 + _DM_CAP_MILLI
        # the linearized exponentiated-gradient step: factor is
        # exactly 1 + clip(excess, 0, cap) in millis
        assert r.factor_milli == 1000 + min(
            _DM_CAP_MILLI, max(0, r.excess_milli)
        )


def test_doremi_upweights_high_excess_domains(dm_rows):
    # reweighting is RELATIVE: weight_i = n_i·f_i / Σ n_j·f_j, so a
    # domain gains or loses share against the corpus-average factor,
    # and per-doc weight must be strictly monotone in the factor
    assert {r.excess_milli for r in dm_rows} != {0}, "no excess spread"
    per_doc = sorted(
        (r.factor_milli, r.weight / r.n_docs) for r in dm_rows
    )
    for (fa, wa), (fb, wb) in zip(per_doc, per_doc[1:]):
        if fb > fa:
            assert wb > wa - 1e-9
        else:
            assert wb == pytest.approx(wa, abs=2e-6)
    # vs the corpus-average factor: the max-factor domain gains share,
    # the min-factor domain loses it
    total_docs = sum(r.n_docs for r in dm_rows)
    avg_f = sum(r.n_docs * r.factor_milli for r in dm_rows) / total_docs
    hi = max(dm_rows, key=lambda r: r.factor_milli)
    lo = min(dm_rows, key=lambda r: r.factor_milli)
    assert hi.factor_milli > avg_f > lo.factor_milli
    assert hi.weight > hi.n_docs / total_docs
    assert lo.weight < lo.n_docs / total_docs


# --------------------------------------------------------------------
# curriculum_pack_easy_first
# --------------------------------------------------------------------


def test_curriculum_replay_and_easy_first_order(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["curriculum_pack_easy_first"].spark(spark, sf_dir).collect()
    )
    assert len(rows) == 500
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: (r.difficulty_milli, r.doc_id))
        # pure-Python replay of the running-sum pack assignment
        cum = 0
        for r in rs:
            assert r.pack_id == cum // _CU_BUDGET, (lang, r.doc_id)
            cum += r.n_tokens
        # easy-first: pack ids are non-decreasing along the
        # difficulty order, so early packs hold the easiest docs
        packs = [r.pack_id for r in rs]
        assert packs == sorted(packs)


# --------------------------------------------------------------------
# rendezvous_shard_assignment
# --------------------------------------------------------------------


def _hrw_score(doc_id: int, shard: int) -> int:
    import hashlib

    h = hashlib.md5(f"{doc_id}:{shard}".encode()).hexdigest()
    return int(h[:15], 16)


@pytest.fixture(scope="module")
def rv_rows(spark, sf_dir):
    return (
        QUERY_REGISTRY["rendezvous_shard_assignment"].spark(spark, sf_dir).collect()
    )


def test_rendezvous_matches_pure_python_replay(rv_rows):
    # engine-free replay of the full HRW argmax for every document
    assert len(rv_rows) == 500
    for r in rv_rows:
        best = max(
            range(_RV_SHARDS), key=lambda s: (_hrw_score(r.doc_id, s), -s)
        )
        assert r.shard == best, r.doc_id


def test_rendezvous_monotonicity_on_shard_removal(rv_rows):
    # THE rendezvous property: deleting shard 7 remaps ONLY the
    # documents that lived on shard 7 — every other document's argmax
    # over the remaining shards is unchanged
    removed = 7
    moved = 0
    for r in rv_rows:
        remaining = [s for s in range(_RV_SHARDS) if s != removed]
        best = max(remaining, key=lambda s: (_hrw_score(r.doc_id, s), -s))
        if r.shard == removed:
            moved += 1
            assert best != removed
        else:
            assert best == r.shard, (
                f"doc {r.doc_id} moved off shard {r.shard} when an "
                f"unrelated shard was removed"
            )
    assert moved > 0, "fixture never used the removed shard"


def test_rendezvous_balance_is_reasonable(rv_rows):
    # 500 docs over 16 shards: a uniform hash keeps every shard
    # populated and no shard grossly hot (loose 4x bound — this is a
    # sanity pin, not a statistical test)
    from collections import Counter

    counts = Counter(r.shard for r in rv_rows)
    assert set(counts) <= set(range(_RV_SHARDS))
    assert len(counts) == _RV_SHARDS
    assert max(counts.values()) <= 4 * min(counts.values())


# --------------------------------------------------------------------
# dsir_importance_resample
# --------------------------------------------------------------------


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _dsir_replay(sf_dir: str):
    """Engine-free replay of the full DSIR chain: bucket counts,
    decimal-route ratio quantization, per-doc integer scores, and the
    cross-multiplied keep rule."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, lang, text "
        f"FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    doc_buckets: dict[int, list[int]] = {}
    for doc_id, lang, text in rows:
        ws = text.split(" ")
        if len(ws) < 2:
            continue
        bks = [
            _h60(ws[i] + " " + ws[i + 1]) % _DS_B
            for i in range(len(ws) - 1)
        ]
        doc_buckets[doc_id] = bks
        for b in bks:
            cr[b] = cr.get(b, 0) + 1
            if lang == _DS_TARGET_LANG:
                ct[b] = ct.get(b, 0) + 1
    tr, tt = sum(cr.values()), sum(ct.values())
    micro = {}
    for b, c_raw in cr.items():
        # replicate: CAST((num/den) AS DECIMAL(28,10)) * 1e6, ROUND(.,0)
        q = ((ct.get(b, 0) + 1) * (tr + _DS_B)) / ((c_raw + 1) * (tt + _DS_B))
        d = Decimal(q).quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP)
        m = int((d * 1_000_000).quantize(Decimal("1"), rounding=ROUND_HALF_UP))
        micro[b] = min(m, _DS_CAP_MICRO)
    out = {}
    for doc_id, bks in doc_buckets.items():
        score = sum(micro[b] for b in bks)
        u = int(
            hashlib.md5(f"dsir:{doc_id}".encode()).hexdigest()[:6], 16
        )
        kept = u * len(bks) * _DS_KEEP_DEN < score * _DS_U_MAX
        out[doc_id] = (len(bks), score, kept)
    return out


@pytest.fixture(scope="module")
def dsir_rows(spark, sf_dir):
    q = QUERY_REGISTRY["dsir_importance_resample"]
    return {r.doc_id: r for r in q.spark(spark, sf_dir).collect()}


def test_dsir_pure_python_replay(dsir_rows, sf_dir):
    replay = _dsir_replay(sf_dir)
    assert set(replay) == set(dsir_rows)
    for doc_id, (nb, score, kept) in replay.items():
        r = dsir_rows[doc_id]
        assert r.n_bigrams == nb, doc_id
        assert r.score_micro == score, doc_id
        assert r.kept == kept, doc_id


def test_dsir_tilts_toward_the_target(dsir_rows):
    # the point of DSIR: target-language docs carry higher importance
    # on average. The fixture's languages share one synthetic
    # vocabulary (the reason lang_id_rank_profile needed a
    # distinct-charset pin), so the tilt is small — the MEAN moves,
    # while per-lang keep RATES stay noise-dominated because the
    # md5-uniform draw is independent of the ~1% ratio spread; the
    # keep rule itself is pinned bit-for-bit by the replay above.
    en = [r for r in dsir_rows.values() if r.lang == _DS_TARGET_LANG]
    rest = [r for r in dsir_rows.values() if r.lang != _DS_TARGET_LANG]
    assert en and rest
    mean_en = sum(r.avg_ratio for r in en) / len(en)
    mean_rest = sum(r.avg_ratio for r in rest) / len(rest)
    assert mean_en > mean_rest
    # resampling actually samples: neither everything nor nothing
    kept_total = sum(r.kept for r in dsir_rows.values())
    assert 0 < kept_total < len(dsir_rows)


# --------------------------------------------------------------------
# categorical_dictionary_encode
# --------------------------------------------------------------------


def test_dictionary_replay_and_bijectivity(spark, sf_dir):
    rows = (
        QUERY_REGISTRY["categorical_dictionary_encode"]
        .spark(spark, sf_dir)
        .collect()
    )
    docs = duckdb.sql(
        f"SELECT doc_id, source || '|' || lang FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    counts: dict[str, int] = {}
    for _, cat in docs:
        counts[cat] = counts.get(cat, 0) + 1
    vocab = sorted(counts, key=lambda c: (-counts[c], c))
    assert [r.category for r in sorted(rows, key=lambda r: r.cat_id)] == vocab
    by_cat = {r.category: r for r in rows}
    for cat, r in by_cat.items():
        assert r.n_docs == counts[cat]
        decoded = ",".join(
            c for _, c in docs if c == cat
        )  # doc_id order within the id's group
        assert (
            r.decode_roundtrip_md5
            == hashlib.md5(decoded.encode("utf-8")).hexdigest()
        ), cat
    # frequency-ranked dense ids: 0..|vocab|-1, hot categories first
    ids = sorted(r.cat_id for r in rows)
    assert ids == list(range(len(vocab)))
    ns = [r.n_docs for r in sorted(rows, key=lambda r: r.cat_id)]
    assert ns == sorted(ns, reverse=True)  # counts non-increasing by id


# --------------------------------------------------------------------
# unimax_epoch_cap_allocation
# --------------------------------------------------------------------


def _unimax_replay(sf_dir: str):
    """Sequential waterfill replay (loop form — the closed-form
    predicate under test must agree exactly)."""
    rows = duckdb.sql(
        f"""
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        FROM read_parquet('{sf_dir}/documents.parquet') GROUP BY 1
        """
    ).fetchall()
    toks = dict(rows)
    cap = {
        s: (n * (1 + int(s[3:]) % 3)) // _UX_CAP_DEN
        for s, n in toks.items()
    }
    total = sum(toks.values())
    budget = (total * _UX_B_NUM) // _UX_B_DEN
    order = sorted(cap, key=lambda s: (cap[s], s))
    k = len(order)
    alloc: dict[str, int] = {}
    prefix = 0
    n_capped = 0
    for i, s in enumerate(order, 1):
        if prefix + cap[s] * (k - i + 1) <= budget:
            alloc[s] = cap[s]
            prefix += cap[s]
            n_capped += 1
        else:
            break
    spare, u = budget - prefix, k - n_capped
    base, rem = divmod(spare, u) if u else (0, 0)
    for j, s in enumerate(order[n_capped:]):
        alloc[s] = base + (1 if j < rem else 0)
    return toks, cap, alloc, budget, set(order[:n_capped])


def test_unimax_replay_exact(spark, sf_dir):
    got = (
        QUERY_REGISTRY["unimax_epoch_cap_allocation"].spark(spark, sf_dir).collect()
    )
    toks, cap, alloc, budget, capped = _unimax_replay(sf_dir)
    assert {r.source for r in got} == set(toks)
    for r in got:
        assert r.n_tokens == toks[r.source]
        assert r.cap_tokens == cap[r.source]
        assert r.alloc_tokens == alloc[r.source]
        assert r.is_capped == (r.source in capped)
    # the exact-budget contract
    assert sum(r.alloc_tokens for r in got) == budget


def test_unimax_contracts(spark, sf_dir):
    got = (
        QUERY_REGISTRY["unimax_epoch_cap_allocation"].spark(spark, sf_dir).collect()
    )
    # non-vacuous: both classes present at every checked SF
    assert any(r.is_capped for r in got)
    assert any(not r.is_capped for r in got)
    for r in got:
        # nobody exceeds their repetition cap
        assert r.alloc_tokens <= r.cap_tokens
        if r.is_capped:
            assert r.alloc_tokens == r.cap_tokens
    # max-min fairness: uncapped sources differ by at most one token
    un = sorted(r.alloc_tokens for r in got if not r.is_capped)
    assert un[-1] - un[0] <= 1
    # every capped source's cap is below the uncapped share (that is
    # WHY it was capped)
    assert all(
        r.cap_tokens <= un[-1] for r in got if r.is_capped
    )


def _lang_docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, lang, text FROM "
        f"'{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


# --------------------------------------------------------------------
# harmonic_size_class_packing
# --------------------------------------------------------------------


def _harmonic_replay(docs):
    """Pure-python harmonic assignment: class k = CAP div len; within
    (lang, k) rank by (len DESC, doc_id); bin = (rank-1) div k."""
    by_class: dict = {}
    for doc_id, lang, text in docs:
        n = len(text.split(" "))
        # oversize docs (n > CAP) route to a dedicated class-1 bin
        # (negative slack = truncation debt); fixture never exercises
        # it, but the replay mirrors the shipping rule
        k = max(_HP_CAP // n, 1)
        by_class.setdefault((lang, k), []).append((n, doc_id))
    out = {}
    for (lang, k), items in by_class.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        for rank0, (n, doc_id) in enumerate(items):
            out[doc_id] = (lang, n, k, rank0 // k)
    return out


def test_harmonic_replay_matches_spark(spark, sf_dir):
    expect = _harmonic_replay(_lang_docs(sf_dir))
    rows = QUERY_REGISTRY["harmonic_size_class_packing"].spark(
        spark, sf_dir
    ).collect()
    assert len(rows) == len(expect)
    fills: dict = {}
    for r in rows:
        lang, n, k, b = expect[r.doc_id]
        assert (r.lang, r.n_tokens, r.size_class, r.bin_idx) == (
            lang,
            n,
            k,
            b,
        )
        fills.setdefault((lang, k, b), [0, 0])
        fills[(lang, k, b)][0] += n
        fills[(lang, k, b)][1] += 1
    for r in rows:
        fill, cnt = fills[(r.lang, r.size_class, r.bin_idx)]
        assert r.bin_fill == fill
        assert r.bin_slack == _HP_CAP - fill
        assert r.full_bin == (1 if cnt == r.size_class else 0)


def test_harmonic_no_overflow_and_optimal_bins(spark, sf_dir):
    rows = QUERY_REGISTRY["harmonic_size_class_packing"].spark(
        spark, sf_dir
    ).collect()
    # the no-overflow proof in the compared bytes: k items of length
    # <= CAP/k can never exceed CAP
    assert all(r.bin_fill <= _HP_CAP for r in rows)
    assert all(r.bin_slack >= 0 for r in rows)
    # ceil(n/k) bins per (lang, class) — optimal within the class
    per_class: dict = {}
    for r in rows:
        key = (r.lang, r.size_class)
        n, bins = per_class.get(key, (0, 0))
        per_class[key] = (n + 1, max(bins, r.bin_idx + 1))
    for (lang, k), (n, bins) in per_class.items():
        assert bins == math.ceil(n / k), (lang, k)
    # multiple size classes exist (the fixture spans 10..99 tokens),
    # otherwise the classification is vacuous
    assert len({k for (_, k) in per_class}) >= 3


def _source_docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, lang, source, text FROM "
        f"'{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _round_div(n, d, digits=4) -> float:
    q = Decimal("0." + "0" * (digits + 3) + "1")
    o = Decimal("0." + "0" * (digits - 1) + "1")
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(q, rounding=ROUND_HALF_UP)
        .quantize(o, rounding=ROUND_HALF_UP)
    )


# --------------------------------------------------------------------
# zipf_token_frequency_profile
# --------------------------------------------------------------------


def test_zipf_replay_matches_spark(spark, sf_dir):
    docs = _source_docs(sf_dir)
    tf: Counter = Counter()
    for _, lang, _, text in docs:
        for tok in text.split(" "):
            tf[(lang, tok)] += 1
    rows = QUERY_REGISTRY["zipf_token_frequency_profile"].spark(
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
    rows = QUERY_REGISTRY["heaps_vocab_growth_curve"].spark(
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
        assert r.type_token_ratio == _round_div6(vocab, toks)
        # the planted never-seen tokens keep the curve strictly
        # increasing — the first-occurrence algebra is live everywhere
        assert r.vocab_size > prev_vocab
        assert r.n_tokens > prev_tokens
        prev_vocab, prev_tokens = r.vocab_size, r.n_tokens


def test_top_p_first_crossing_row_is_included(spark, sf_dir):
    # Re-run the registered query's window logic on a contrived
    # frequency profile: counts 50/30/15/5 (total 100), p = 90 keeps
    # exactly the prefix {50, 30, 15}: before-mass 0, 50, 80 < 90 but
    # the fourth row's before-mass 95 is not.
    from market_pulse_data_pipeline_spark.queries.corpus import (
        vocab_top_p_coverage,
    )

    docs = spark.createDataFrame(
        [
            Row(
                doc_id=0,
                lang="xx",
                text=" ".join(
                    ["w1"] * 50 + ["w2"] * 30 + ["w3"] * 15 + ["w4"] * 5
                ),
            )
        ]
    )
    tok = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    from pyspark.sql import Window

    c = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "token")
    cum_before = F.coalesce(
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    tot = F.sum("n").over(Window.partitionBy("lang"))
    kept = (
        c.select("token", cum_before.alias("cb"), tot.alias("tot"))
        .filter(F.lit(100) * F.col("cb") < 90 * F.col("tot"))
        .collect()
    )
    assert sorted(r.token for r in kept) == ["w1", "w2", "w3"]
    # the registered query itself runs green on the fixture tables
    out = vocab_top_p_coverage(spark, sf_dir)
    assert out.columns == ["lang", "token", "n", "rnk"]
    rows = out.collect()
    assert len(rows) > 0
    # per lang, kept ranks are a contiguous prefix 1..m
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.rnk)
    for lang, rnks in by_lang.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), lang


@settings(max_examples=300, deadline=None)
@given(
    lens=st.lists(
        st.integers(min_value=1, max_value=2 * _HP_CAP),
        min_size=1,
        max_size=60,
    )
)
def test_harmonic_packing_invariants(lens):
    # the shipping rule: k = max(CAP div len, 1); rank by len desc;
    # bin = rank0 div k
    by_class: dict = {}
    for idx, n in enumerate(lens):
        k = max(_HP_CAP // n, 1)
        by_class.setdefault(k, []).append((n, idx))
    for k, items in by_class.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        bins: dict = {}
        for rank0, (n, _) in enumerate(items):
            bins.setdefault(rank0 // k, []).append(n)
        # bins per class is optimal within the class
        assert len(bins) == math.ceil(len(items) / k)
        for members in bins.values():
            assert len(members) <= k
            if all(m <= _HP_CAP for m in members):
                # the harmonic no-overflow theorem: every member of
                # class k satisfies CAP div m == k, hence m <= CAP
                # div k, so k of them sum to at most CAP
                assert sum(members) <= _HP_CAP
            else:
                # oversize docs are ALONE in class-1 bins (negative
                # slack records the truncation debt)
                assert k == 1 and len(members) == 1
