"""Semantic pins for the queries/text.py rows: pure-Python replays,
planted-witness contracts and fixture guards that the value-hash
compare in tests/test_queries_oracle.py can't express."""

import hashlib
import os
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.text import (
    _FT_PHRASES,
    _GZ_PHRASES,
    _HT_COMMENT,
    _HT_COMMENT_BLOCK,
    _HT_ENTITIES,
    _HT_FOOTER,
    _HT_FOOTER_TEXT,
    _HT_SCRIPT,
    _HT_SCRIPT_BLOCK,
    _HT_STYLE,
    _HT_STYLE_BLOCK,
    _HT_TAG,
    _HT_WS,
    _LM_EN_SENT,
    _LM_OTHER_SENT,
    _LM_PLANT_MOD,
    _LM_W,
    _PMI_DELTA,
    _PMI_MIN,
    _PMI_MOD_A,
    _PMI_MOD_B,
    _PMI_THETA_DEN,
    _PMI_THETA_NUM,
    _UN_MAP,
    _UN_SUFFIXES,
    STOPWORDS,
    _ft_pat,
    _ft_rep,
)


# --------------------------------------------------------------------
# lang_id_rank_profile
# --------------------------------------------------------------------


def test_langid_one_prediction_per_doc(spark, sf_dir):
    rows = QUERY_REGISTRY["lang_id_rank_profile"].spark(spark, sf_dir).collect()
    assert len(rows) == 500
    assert len({r.doc_id for r in rows}) == 500
    langs = {r.lang for r in rows}
    for r in rows:
        assert r.lang_pred in langs
        assert r.oop_distance >= 0


def test_langid_separates_genuinely_distinct_languages(spark, tmp_path):
    # the fixture corpus draws every "language" from one shared
    # vocabulary, so accuracy there is meaningless; this pin feeds the
    # SAME registered callable a corpus of genuinely distinct character
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
    out = QUERY_REGISTRY["lang_id_rank_profile"].spark(spark, str(sf)).collect()
    assert len(out) == len(rows)
    correct = sum(1 for r in out if r.lang_pred == r.lang)
    assert correct == len(rows), "rank-profile lang-ID misclassified docs"
    unseeded = [r for r in out if r.doc_id % 10 >= 3]
    assert unseeded and all(r.lang_pred == r.lang for r in unseeded)


def _docs(sf_dir: str) -> list[tuple[int, str]]:
    return duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


# --------------------------------------------------------------------
# html_tag_strip_extract
# --------------------------------------------------------------------


def _html_for(doc_id: int, text: str) -> str:
    return (
        "<html><body>"
        + (_HT_SCRIPT_BLOCK if doc_id % 3 == 0 else "")
        + (_HT_STYLE_BLOCK if doc_id % 4 == 0 else "")
        + (_HT_COMMENT_BLOCK if doc_id % 5 == 0 else "")
        + "<p>"
        + text.replace(" ", "</p> <p>")
        + "</p>"
        + _HT_FOOTER
        + "</body></html>"
    )


def _extract(html: str) -> str:
    """Pure-python replay of the shared pattern chain (python re, Java
    regex and RE2 agree on this subset)."""
    u = html
    for pat in (_HT_COMMENT, _HT_SCRIPT, _HT_STYLE, _HT_TAG):
        u = re.sub(pat, " ", u)
    for src, dst in _HT_ENTITIES:
        u = u.replace(src, dst)
    return re.sub(_HT_WS, " ", u).strip()


@pytest.fixture(scope="module")
def ht_rows(spark, sf_dir):
    return QUERY_REGISTRY["html_tag_strip_extract"].spark(spark, sf_dir).collect()


def test_html_replay_exact(ht_rows, sf_dir):
    texts = dict(_docs(sf_dir))
    assert {r.doc_id for r in ht_rows} == set(texts)
    for r in ht_rows:
        extracted = _extract(_html_for(r.doc_id, texts[r.doc_id]))
        assert r.n_tokens == len(extracted.split(" ")), r.doc_id
        assert r.n_chars == len(extracted), r.doc_id
        assert (
            r.extract_md5
            == hashlib.md5(extracted.encode("utf-8")).hexdigest()
        ), r.doc_id


def test_html_roundtrip_lossless(ht_rows, sf_dir):
    """Tags only ever ADD bytes, so extraction must recover the exact
    original content plus the decoded entity footer — for EVERY doc,
    including the script/style/comment-decoy ones."""
    texts = dict(_docs(sf_dir))
    for r in ht_rows:
        assert r.roundtrip_ok, r.doc_id
        expected = texts[r.doc_id] + _HT_FOOTER_TEXT
        assert r.n_chars == len(expected), r.doc_id


def test_html_decoys_die_and_entities_survive(sf_dir):
    """Direct property of the replayed chain: decoy payloads vanish,
    the entity footer decodes to literal text AFTER tag stripping."""
    html = _html_for(60, "alpha beta")  # 60 hits all three decoy mods
    extracted = _extract(html)
    for decoy in ("SHOULD_NOT_SURVIVE", "DROPME", "display:none"):
        assert decoy not in extracted
    assert extracted == "alpha beta" + _HT_FOOTER_TEXT
    # '<b>' survives as literal text — a decode-BEFORE-strip extractor
    # would have stripped it
    assert "<b>" in extracted


# --------------------------------------------------------------------
# unicode_fold_normalize
# --------------------------------------------------------------------


def _fold(s: str) -> str:
    for src, dst in _UN_MAP:
        s = s.replace(src, dst)
    return s


@pytest.fixture(scope="module")
def un_rows(spark, sf_dir):
    return QUERY_REGISTRY["unicode_fold_normalize"].spark(spark, sf_dir).collect()


def test_unicode_replay_exact(un_rows, sf_dir):
    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    assert {r.doc_id for r in un_rows} == set(texts)
    for r in un_rows:
        raw = texts[r.doc_id] + _UN_SUFFIXES[r.doc_id % 5]
        norm = _fold(raw)
        assert r.n_chars_raw == len(raw), r.doc_id
        assert r.n_chars_norm == len(norm), r.doc_id
        assert (
            r.norm_md5 == hashlib.md5(norm.encode("utf-8")).hexdigest()
        ), r.doc_id
        assert r.changed == (norm != raw), r.doc_id


def test_unicode_rule_families_and_control(un_rows):
    """Residues 0-3 each plant one rule family (must change); residue 4
    is the ASCII control (must pass through byte-identical)."""
    by_res = {}
    for r in un_rows:
        by_res.setdefault(r.doc_id % 5, []).append(r)
    for v in range(4):
        assert by_res[v] and all(r.changed for r in by_res[v]), v
    assert by_res[4] and not any(r.changed for r in by_res[4])
    # every fold target is itself fold-stable (the chain is idempotent)
    for src, dst in _UN_MAP:
        assert _fold(dst) == dst, (src, dst)


# --------------------------------------------------------------------
# sentence_lang_mix_profile
# --------------------------------------------------------------------


def _langmix_replay(doc_id: int, text: str):
    if doc_id % _LM_PLANT_MOD == 0:
        text = _LM_OTHER_SENT + " " + text
    elif doc_id % _LM_PLANT_MOD == 3:
        text = _LM_EN_SENT + " " + text
    ws = text.split(" ")
    sw = set(STOPWORDS)
    n_en = n_other = 0
    for i in range(0, len(ws), _LM_W):
        s = ws[i : i + _LM_W]
        if 20 * sum(1 for w in s if w in sw) >= len(s):
            n_en += 1
        else:
            n_other += 1
    return n_en, n_other


@pytest.fixture(scope="module")
def lm_rows(spark, sf_dir):
    return QUERY_REGISTRY["sentence_lang_mix_profile"].spark(spark, sf_dir).collect()


def test_langmix_replay_exact(lm_rows, sf_dir):
    texts = dict(_docs(sf_dir))
    assert {r.doc_id for r in lm_rows} == set(texts)
    for r in lm_rows:
        n_en, n_other = _langmix_replay(r.doc_id, texts[r.doc_id])
        assert (r.n_en, r.n_other) == (n_en, n_other), r.doc_id
        assert r.n_sentences == n_en + n_other
        assert r.majority_lang == ("en" if n_en >= n_other else "other")
        assert r.code_switched == (n_en > 0 and n_other > 0)
        assert 0.0 <= r.mix_fraction <= 0.5


def test_langmix_plants_force_minority(lm_rows):
    """The grid-preserving prepended plants guarantee at least one
    sentence of each class in their residue family — so a residue-0
    doc can never be all-en and a residue-3 doc never all-other."""
    r0 = [r for r in lm_rows if r.doc_id % _LM_PLANT_MOD == 0]
    r3 = [r for r in lm_rows if r.doc_id % _LM_PLANT_MOD == 3]
    assert r0 and all(r.n_other >= 1 for r in r0)
    assert r3 and all(r.n_en >= 1 for r in r3)
    # and code-switched docs actually exist in the profiled corpus
    assert any(r.code_switched for r in lm_rows)


# --------------------------------------------------------------------
# token_spans_offsets
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def sp_rows(spark, sf_dir):
    return QUERY_REGISTRY["token_spans_offsets"].spark(spark, sf_dir).collect()


def test_spans_tile_the_text_exactly(sp_rows, sf_dir):
    """Spans must reconstruct the original text with NO gaps beyond the
    single separator char: start_i = end_{i-1} + 1, first span starts
    at 0, last span ends at len(text)."""
    texts = dict(_docs(sf_dir))
    by_doc: dict[int, list] = {}
    for r in sp_rows:
        assert r.ok, (r.doc_id, r.pos)  # self-witnessing re-slice
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(texts)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.pos)
        text = texts[doc_id]
        assert rows[0].start_off == 0
        assert rows[-1].end_off == len(text)
        for prev, cur in zip(rows, rows[1:]):
            assert cur.start_off == prev.end_off + 1, (doc_id, cur.pos)
            assert cur.pos == prev.pos + 1
        # the re-sliced tokens concatenate back to the text
        assert " ".join(r.token for r in rows) == text


# --------------------------------------------------------------------
# gazetteer_phrase_match
# --------------------------------------------------------------------


def _gz_replay(sf_dir: str):
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    df: dict[str, int] = {}
    for _, text in docs:
        for tok in set(text.split(" ")):
            df[tok] = df.get(tok, 0) + 1
    out = {}
    for p in _GZ_PHRASES:
        ptoks = p.split(" ")
        # anchor = argmin by (df, token, offset) — the deterministic
        # rarest-token rule both engines implement
        anchor_off, anchor_tok = min(
            enumerate(ptoks), key=lambda kv: (df[kv[1]], kv[1], kv[0])
        )
        n_cand = n_match = 0
        docs_matched = set()
        for doc_id, text in docs:
            ws = text.split(" ")
            for pos, tok in enumerate(ws):
                if tok == anchor_tok and pos - anchor_off >= 0:
                    n_cand += 1
                    start = pos - anchor_off
                    if ws[start : start + len(ptoks)] == ptoks:
                        n_match += 1
                        docs_matched.add(doc_id)
        out[p] = (anchor_tok, df[anchor_tok], n_cand, n_match,
                  len(docs_matched))
    return out


def test_gazetteer_replay_exact(spark, sf_dir):
    rows = {
        r.phrase: r
        for r in QUERY_REGISTRY["gazetteer_phrase_match"]
        .spark(spark, sf_dir)
        .collect()
    }
    expect = _gz_replay(sf_dir)
    assert set(rows) == set(expect)
    for p, (atok, adf, n_cand, n_match, n_docs) in expect.items():
        r = rows[p]
        assert (
            r.anchor_tok,
            r.anchor_df,
            r.n_candidates,
            r.n_matches,
            r.n_docs_matched,
        ) == (atok, adf, n_cand, n_match, n_docs), p
        # the anchor funnel: candidates bound matches, matches exist
        assert r.n_candidates >= r.n_matches
        assert r.n_matches > 0, f"{p}: phrase absent from fixture"


def _lang_docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, lang, text FROM "
        f"'{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


# --------------------------------------------------------------------
# flashtext_multi_replace
# --------------------------------------------------------------------


def _ft_replay(text):
    """Pure-python replay of the doubled-space replace chain."""
    s = " " + text.replace(" ", "  ") + " "
    counts = []
    for i, p in enumerate(_FT_PHRASES):
        pat, rep = _ft_pat(p), _ft_rep(i)
        before = len(s)
        s = s.replace(pat, rep)
        counts.append((before - len(s)) // (len(pat) - len(rep)))
    out = " ".join(tok for tok in s.split(" ") if tok)
    return counts, out


def test_flashtext_replay_matches_spark(spark, sf_dir):
    docs = {d: t for d, _, t in _lang_docs(sf_dir)}
    rows = QUERY_REGISTRY["flashtext_multi_replace"].spark(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    total = 0
    for r in rows:
        counts, out = _ft_replay(docs[r.doc_id])
        assert [r.n_p0, r.n_p1, r.n_p2, r.n_p3, r.n_p4] == counts
        assert r.total_repl == sum(counts)
        assert r.out_len == len(out)
        assert r.out_md5 == hashlib.md5(out.encode()).hexdigest()
        total += r.total_repl
    # non-vacuous: the fixture vocabulary fires every phrase
    assert total > 0
    per_phrase = [
        sum(getattr(r, f"n_p{i}") for r in rows) for i in range(5)
    ]
    assert all(c > 0 for c in per_phrase), per_phrase


def test_flashtext_adjacency_property():
    # adjacent occurrences cannot steal each other's delimiter: the
    # doubled-space construction leaves each occurrence its own
    # boundary space — the naive single-space form misses the second
    # occurrence (its leading space was consumed by the first match)
    p = _FT_PHRASES[3]  # 'hash join'
    text = f"x {p} {p} x"
    counts, out = _ft_replay(text)
    assert counts[3] == 2
    assert out == "x __E3__ __E3__ x"
    naive = (" " + text + " ").replace(" " + p + " ", " __E3__ ")
    assert naive.count("__E3__") == 1  # the bug the doubling fixes


def test_flashtext_nested_phrase_longest_wins():
    # 'merge part window' (phrase 0) consumes its tokens before
    # 'part window' (phrase 1) runs; a standalone 'part window'
    # elsewhere still fires
    text = "merge part window then part window"
    counts, out = _ft_replay(text)
    assert counts[0] == 1 and counts[1] == 1
    assert out == "__E0__ then __E1__"
    # token alignment: a superstring token must NOT match
    counts2, out2 = _ft_replay("xtable scan hash joins")
    assert counts2[2] == 0 and counts2[3] == 0
    assert out2 == "xtable scan hash joins"


def _sized_docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, lang, text, n_chars FROM "
        f"'{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


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
    expect = _pmi_replay(_sized_docs(sf_dir))
    rows = QUERY_REGISTRY["pmi_collocation_mining"].spark(spark, sf_dir).collect()
    assert len(rows) == len(expect)
    for r in rows:
        cab, ca, cb, score, acc = expect[(r.token_a, r.token_b)]
        assert (r.cnt_ab, r.cnt_a, r.cnt_b) == (cab, ca, cb)
        assert r.score == score
        assert r.accepted == acc


def test_pmi_plants_accepted_naturals_rejected(spark, sf_dir):
    rows = QUERY_REGISTRY["pmi_collocation_mining"].spark(spark, sf_dir).collect()
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


# token alphabet: the phrase vocabulary plus fillers, so phrases occur
# often under random composition
_TOKENS = ["merge", "part", "window", "table", "scan", "hash", "join",
           "sort", "x", "y"]


TOKSEQ = st.lists(st.sampled_from(_TOKENS), min_size=0, max_size=24)


def _ft_chain(text: str):
    """The shipping algorithm, replayed in python."""
    s = " " + text.replace(" ", "  ") + " "
    counts = []
    for i, p in enumerate(_FT_PHRASES):
        pat, rep = _ft_pat(p), _ft_rep(i)
        before = len(s)
        s = s.replace(pat, rep)
        counts.append((before - len(s)) // (len(pat) - len(rep)))
    out = " ".join(tok for tok in s.split(" ") if tok)
    return counts, out


def _reference_scanner(tokens):
    """Priority-ordered, left-to-right, non-overlapping token-aligned
    phrase matcher — the semantics the doubled-space chain claims."""
    out = list(tokens)
    taken = [False] * len(tokens)
    counts = [0] * len(_FT_PHRASES)
    for i, p in enumerate(_FT_PHRASES):
        ptoks = p.split(" ")
        j = 0
        while j + len(ptoks) <= len(tokens):
            window = tokens[j : j + len(ptoks)]
            if window == ptoks and not any(taken[j : j + len(ptoks)]):
                for k in range(j, j + len(ptoks)):
                    taken[k] = True
                out[j] = f"__E{i}__"
                for k in range(j + 1, j + len(ptoks)):
                    out[k] = None
                counts[i] += 1
                j += len(ptoks)
            else:
                j += 1
    return counts, " ".join(t for t in out if t is not None)


@settings(max_examples=300, deadline=None)
@given(toks=TOKSEQ)
def test_flashtext_chain_equals_reference_scanner(toks):
    text = " ".join(toks)
    if not toks:
        # empty text splits to [''] in the engines; skip the
        # degenerate composition (the fixture has no empty docs and
        # the chain's contract is over token sequences)
        return
    counts, out = _ft_chain(text)
    ref_counts, ref_out = _reference_scanner(toks)
    assert counts == ref_counts
    assert out == ref_out
