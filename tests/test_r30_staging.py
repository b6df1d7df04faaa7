"""Semantic pins for the round-30-batch operator
(queries/r30_staging.py). Oracle parity is covered by
tests/test_queries_oracle.py; this file keeps what the value-hash
can't express: a pure-python TEXTBOOK-form LCS replay against the
shipping max-form Arrow kernel (fuzzed, including ties, repeats, and
empty sequences), the order-sensitivity witness that separates ROUGE-L
from bag-overlap ROUGE-1, and the single-token-reference edge."""

import random

import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r30_staging import (
    _RL_DROP,
    _RL_EVAL_MOD,
    _RL_MID,
    _RL_TAIL,
    _lcs_len,
)

R30_NAMES = ["rouge_l_eval_overlap"]
QUERIES = {n: QUERY_REGISTRY[n] for n in R30_NAMES}


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


def test_r30_staging_composition():
    assert set(R30_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R30_NAMES)


@pytest.mark.parametrize("name", R30_NAMES)
def test_r30_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


def test_rouge_l_replay_matches_spark(spark, sf_dir):
    import duckdb

    docs = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    )
    rows = QUERIES["rouge_l_eval_overlap"].spark(spark, sf_dir).collect()
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
    # the property that separates ROUGE-L from the r28 bag-overlap
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
    from market_pulse_data_pipeline_spark.queries.r30_staging import (
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
