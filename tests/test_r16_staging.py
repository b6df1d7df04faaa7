"""Semantic pins for the round-13 registrations, first batch
(queries/r16_staging.py — staged in round 11, flipped to @register in
round 13 under VERDICT round-12 item 2's accelerated drain). Oracle
parity is covered by the registry-wide tools/check_oracle.py sweep;
this file keeps
the invariants the value-hash can't express: a full engine-free
pure-python replay of the portable Bloom filter (bits, probes, exact
counts), the Bloom no-false-negative contract and the planted-leak
guarantee, a pure-python replay of the HTML extraction chain (re +
hashlib) with the lossless round-trip, and the four-quadrant IVM
identity (quadrant counts sum EXACTLY to the monolithic join)."""

import hashlib
import re

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r16_staging import (
    _BL_EVAL_MOD,
    _BL_K,
    _BL_LEAK_MOD,
    _BL_M,
    _BL_N,
    _BL_NWORDS,
    _BL_OFFSET,
    _BL_WORD,
    _DV_CUST_MOD,
    _DV_ORD_MOD,
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
)

R16_NAMES = [
    "bloom_decontaminate_portable",
    "html_tag_strip_extract",
    "delta_join_view_maintenance",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R16_NAMES}


def _docs(sf_dir: str) -> list[tuple[int, str]]:
    return duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


def test_r16_registration_composition():
    assert set(R16_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R16_NAMES)


@pytest.mark.parametrize("name", R16_NAMES)
def test_r16_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


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
        QUERIES["bloom_decontaminate_portable"].spark(spark, sf_dir).collect()
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
    return QUERIES["html_tag_strip_extract"].spark(spark, sf_dir).collect()


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
# delta_join_view_maintenance
# --------------------------------------------------------------------


def test_quadrants_partition_exactly(sf_dir):
    """The four-quadrant identity is only exact if the splits are a
    true disjoint partition AND every quadrant contributes: quadrant
    join counts must sum to the monolithic join count."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{sf_dir}/customer.parquet')"
    )
    quad = """
    SELECT COUNT(*) FROM orders o JOIN customer c
      ON o.o_custkey = c.c_custkey
    WHERE (o.o_orderkey % {om} {oop} 0) AND (c.c_custkey % {cm} {cop} 0)
    """
    counts = [
        con.execute(
            quad.format(
                om=_DV_ORD_MOD, cm=_DV_CUST_MOD, oop=oop, cop=cop
            )
        ).fetchone()[0]
        for oop, cop in (
            ("<>", "<>"),  # A0 ⋈ B0 (bootstrap)
            ("=", "<>"),  # ΔA ⋈ B0
            ("<>", "="),  # A0 ⋈ ΔB
            ("=", "="),  # ΔA ⋈ ΔB
        )
    ]
    total = con.execute(
        "SELECT COUNT(*) FROM orders o JOIN customer c "
        "ON o.o_custkey = c.c_custkey"
    ).fetchone()[0]
    assert all(c > 0 for c in counts), counts  # every quadrant real
    assert sum(counts) == total


def test_delta_view_totals(spark, sf_dir):
    """The incrementally-maintained view's grand totals equal the
    monolithic recompute's (per-group equality is the oracle gate)."""
    rows = (
        QUERIES["delta_join_view_maintenance"].spark(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    for t in ("orders", "customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    n_total = con.execute(
        "SELECT COUNT(*) FROM orders o JOIN customer c "
        "ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey"
    ).fetchone()[0]
    assert sum(r.n_orders for r in rows) == n_total
    assert len(rows) <= 25 and rows == sorted(rows, key=lambda r: r.n_name)
