"""Semantic pins for the round-11 registrations, second batch
(queries/r11_staging.py — staged and triple-gated in round 9, flipped
to @register in round 11 per VERDICT round-10 item 2's double flip).
Oracle parity is covered by the registry-wide tools/check_oracle.py
sweep; this file keeps the invariants the value-hash compare can't
express: the promo-plant Hamming contract, the DoReMi
monotone-reweight algebra, the curriculum pack replay, and plan
anti-patterns."""

import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r11_staging import (
    _CP_BUDGET,
    _DM_CAP_MILLI,
    _PH_P1_OFFSET,
    _PH_P2_OFFSET,
    _PH_PLANT_MOD,
)

R11_NAMES = [
    "paragraph_simhash_near_dups",
    "doremi_excess_loss_reweight",
    "curriculum_pack_easy_first",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R11_NAMES}


def test_r11_registration_composition():
    assert set(R11_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R11_NAMES)


@pytest.mark.parametrize("name", R11_NAMES)
def test_r11_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# paragraph_simhash_near_dups
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def ph_rows(spark, sf_dir):
    return (
        QUERIES["paragraph_simhash_near_dups"].spark(spark, sf_dir).collect()
    )


def _plant_ids(sf_dir, offset):
    import duckdb

    seeds = duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % {_PH_PLANT_MOD} = 0"
    ).fetchall()
    return sorted(d + offset for (d,) in seeds)


def test_ph_identical_promo_docs_all_pair_at_hamming_zero(ph_rows, sf_dir):
    p1 = _plant_ids(sf_dir, _PH_P1_OFFSET)
    assert len(p1) >= 2
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in ph_rows
        if _PH_P1_OFFSET <= r.doc_a < _PH_P2_OFFSET
        and _PH_P1_OFFSET <= r.doc_b < _PH_P2_OFFSET
    }
    for i, a in enumerate(p1):
        for b in p1[i + 1:]:
            assert got.get((a, b)) == 0, f"identical promos {a},{b} missed"


def test_ph_mutated_promos_pair_among_themselves(ph_rows, sf_dir):
    p2 = _plant_ids(sf_dir, _PH_P2_OFFSET)
    if len(p2) < 2:
        pytest.skip("fixture too small for two mutated plants")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in ph_rows
        if r.doc_a >= _PH_P2_OFFSET and r.doc_b >= _PH_P2_OFFSET
    }
    for i, a in enumerate(p2):
        for b in p2[i + 1:]:
            assert got.get((a, b)) == 0


def test_ph_all_pairs_within_threshold_and_ordered(ph_rows):
    assert ph_rows
    for r in ph_rows:
        assert 0 <= r.hamming <= 3
        assert (r.doc_a, r.para_a) < (r.doc_b, r.para_b)


# --------------------------------------------------------------------
# doremi_excess_loss_reweight
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def dm_rows(spark, sf_dir):
    return (
        QUERIES["doremi_excess_loss_reweight"].spark(spark, sf_dir).collect()
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
        QUERIES["curriculum_pack_easy_first"].spark(spark, sf_dir).collect()
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
            assert r.pack_id == cum // _CP_BUDGET, (lang, r.doc_id)
            cum += r.n_tokens
        # easy-first: pack ids are non-decreasing along the
        # difficulty order, so early packs hold the easiest docs
        packs = [r.pack_id for r in rs]
        assert packs == sorted(packs)


# --------------------------------------------------------------------
# r16 signature-kernel equivalence
# --------------------------------------------------------------------


def test_ph_signature_kernel_matches_jvm(spark, sf_dir):
    """The r16 Arrow signature kernel must reproduce the r15 expression
    pipeline (md5-per-token transform + 60 interpreted vote folds)
    bit-for-bit on real fixture text plus the planted paragraphs."""
    import hashlib

    from pyspark.sql import functions as F

    from market_pulse_data_pipeline_spark.queries.common import t
    from market_pulse_data_pipeline_spark.queries.r11_staging import (
        _PH_BITS,
        _PH_PROMO,
        _PH_PROMO_MUT,
        _PH_W,
    )
    from market_pulse_data_pipeline_spark.functions.dedup import (
        portable_hash60,
    )

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(40)
        .unionByName(
            spark.createDataFrame(
                [(10_000_000, _PH_PROMO), (20_000_000, _PH_PROMO_MUT)],
                "doc_id long, text string",
            )
        )
    )
    # the r15 expression path, verbatim
    tk = F.split("text", " ")
    paras = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size(tk), F.lit(_PH_W))).alias(
            "start"
        ),
        tk.alias("tk"),
    ).select(
        "doc_id",
        ((F.col("start") - 1) / _PH_W).cast("long").alias("para_id"),
        F.array_join(
            F.slice(F.col("tk"), F.col("start"), _PH_W), " "
        ).alias("ptext"),
    )
    hs = F.transform(
        F.split("ptext", " "),
        lambda w: portable_hash60(F.concat(F.lit("pp:"), w)),
    )
    bit_terms = None
    for k in range(_PH_BITS):
        vote = F.aggregate(
            F.col("hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (F.shiftright(h, k).bitwiseAND(F.lit(1)) * 2 - 1).cast(
                "long"
            ),
        )
        term = F.when(vote > 0, F.lit(1 << k).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bit_terms = term if bit_terms is None else bit_terms + term
    jvm = sorted(
        (r["doc_id"], r["para_id"], r["sim"])
        for r in paras.select(
            "doc_id", "para_id", hs.alias("hs")
        )
        .select("doc_id", "para_id", bit_terms.alias("sim"))
        .collect()
    )

    # the r16 kernel: replay via hashlib/numpy exactly as the query does
    import numpy as np

    bitpos = np.arange(_PH_BITS, dtype=np.int64)
    kern = []
    for r in docs.collect():
        toks = r["text"].split(" ")
        for pi in range(0, (len(toks) + _PH_W - 1) // _PH_W):
            chunk = toks[pi * _PH_W : (pi + 1) * _PH_W]
            hvals = np.fromiter(
                (
                    int(
                        hashlib.md5(("pp:" + w).encode()).hexdigest()[:15],
                        16,
                    )
                    for w in chunk
                ),
                dtype=np.int64,
                count=len(chunk),
            )
            bits = (hvals[:, None] >> bitpos) & 1
            votes = 2 * bits.sum(axis=0) - len(chunk)
            sim = int(((votes > 0).astype(np.int64) << bitpos).sum())
            kern.append((r["doc_id"], pi, sim))
    assert jvm == sorted(kern)
    assert len(jvm) > 40  # non-vacuous: multiple paragraphs per doc
