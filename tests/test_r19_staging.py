"""Semantic pins for the round-13 registrations, fourth batch
(queries/r19_staging.py — staged in round 11, flipped to @register in
round 13 under VERDICT round-12 item 2's accelerated drain). Oracle
parity is covered by the registry-wide tools/check_oracle.py sweep;
this file keeps
the invariants the value-hash can't express: a pure-python replay of
the sentence-level language-mix profile with the planted minority
sentences, full span-coverage invariants for the offset tokenizer
(self-witnessing ok column, exact tiling of the original text), and
the erasure cascade's zero-orphan / nonempty-erasure accounting."""

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r19_staging import (
    _ER_MOD,
    _LM_EN_SENT,
    _LM_OTHER_SENT,
    _LM_PLANT_MOD,
    _LM_W,
)
from market_pulse_data_pipeline_spark.queries.text import STOPWORDS

R19_NAMES = [
    "sentence_lang_mix_profile",
    "token_spans_offsets",
    "user_erasure_cascade",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R19_NAMES}


def _docs(sf_dir: str) -> list[tuple[int, str]]:
    return duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


def test_r19_registration_composition():
    assert set(R19_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R19_NAMES)


@pytest.mark.parametrize("name", R19_NAMES)
def test_r19_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


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
    return QUERIES["sentence_lang_mix_profile"].spark(spark, sf_dir).collect()


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
    return QUERIES["token_spans_offsets"].spark(spark, sf_dir).collect()


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
# user_erasure_cascade
# --------------------------------------------------------------------


def test_erasure_accounting(spark, sf_dir):
    rows = {
        r.table_name: r
        for r in QUERIES["user_erasure_cascade"].spark(spark, sf_dir).collect()
    }
    assert set(rows) == {"events", "user_event_type_agg", "user_profile"}
    ev = duckdb.sql(
        f"SELECT user_id, event_type FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    erased_users = {u for u, _ in ev if u % _ER_MOD == 0}
    assert len(erased_users) >= 2, "fixture lost its erasure targets"
    # per-table replay
    kept = [(u, t) for u, t in ev if u % _ER_MOD != 0]
    expect = {
        "events": (len(ev), len(kept)),
        "user_event_type_agg": (len(set(ev)), len(set(kept))),
        "user_profile": (
            len({u for u, _ in ev}),
            len({u for u, _ in kept}),
        ),
    }
    for name, (nb, na) in expect.items():
        r = rows[name]
        assert (r.n_before, r.n_after) == (nb, na), name
        assert r.n_removed == nb - na and r.n_removed > 0, name
        # the compliance bit: NO erased-user row survives anywhere
        assert r.n_orphans_after == 0, name
