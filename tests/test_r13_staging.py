"""Semantic pins for the round-12 registrations, second batch
(queries/r13_staging.py — staged in round 10, flipped to @register in
round 12 per VERDICT round-11 item 1). Oracle parity is covered by
the registry-wide tools/check_oracle.py sweep; this file keeps the invariants the
value-hash can't express: the semantic-decontamination plant
contracts (scale-free flags, sign-flip non-flags), the rendezvous
monotonicity property (removing a shard moves only its own docs), and
the LSH recall curve's s-shape and planted-tail guarantees."""

from decimal import ROUND_HALF_UP, Decimal

import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r13_staging import (
    _ES_EVAL_MOD,
    _ES_H_OFFSET,
    _ES_N_OFFSET,
    _ES_V_OFFSET,
    _RC_PLANT_MOD,
    _RC_V_OFFSET,
    _RV_SHARDS,
)

R13_NAMES = [
    "eval_decontaminate_semantic",
    "rendezvous_shard_assignment",
    "lsh_recall_curve",
]

QUERIES = {n: QUERY_REGISTRY[n] for n in R13_NAMES}


def test_r13_registration_composition():
    assert set(R13_NAMES) <= set(QUERY_REGISTRY)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(QUERY_REGISTRY[n].oracle is not None for n in R13_NAMES)


@pytest.mark.parametrize("name", R13_NAMES)
def test_r13_plan_antipatterns(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# eval_decontaminate_semantic
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def esem_rows(spark, sf_dir):
    return (
        QUERIES["eval_decontaminate_semantic"].spark(spark, sf_dir).collect()
    )


def _eval_ids(sf_dir):
    import duckdb

    return {
        r[0]
        for r in duckdb.sql(
            f"SELECT vec_id FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet') "
            f"WHERE vec_id % {_ES_EVAL_MOD} = 0"
        ).fetchall()
    }


def test_esem_verbatim_plants_flag_their_own_eval_vector(esem_rows, sf_dir):
    evals = _eval_ids(sf_dir)
    got = {
        (r.vec_id - _ES_V_OFFSET, r.eval_vec_id)
        for r in esem_rows
        if _ES_V_OFFSET <= r.vec_id < _ES_H_OFFSET
    }
    for e in evals:
        assert (e, e) in got, f"verbatim copy of eval vector {e} missed"


def test_esem_half_scale_plants_flag_scale_free(esem_rows, sf_dir):
    # cosine is scale-invariant: the 0.5x copies MUST still flag — a
    # dot-product threshold would miss every one of them
    evals = _eval_ids(sf_dir)
    got = {
        (r.vec_id - _ES_H_OFFSET, r.eval_vec_id)
        for r in esem_rows
        if _ES_H_OFFSET <= r.vec_id < _ES_N_OFFSET
    }
    for e in evals:
        assert (e, e) in got, f"half-scale copy of eval vector {e} missed"


def test_esem_negated_plants_never_flag(esem_rows):
    # dot(x, -x) < 0: the sign guard must drop every negated copy
    assert all(r.vec_id < _ES_N_OFFSET for r in esem_rows)


def test_esem_flags_satisfy_the_integer_threshold(esem_rows, sf_dir):
    # engine-free replay of the quantized cosine for every flagged
    # pair: recompute dot and norms in pure python and re-check
    # 400*dot^2 >= 361*|a|^2*|b|^2 (and dot >= 0)
    import duckdb

    vecs = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT vec_id, embedding FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        ).fetchall()
    }

    def q(v, scale=1.0):
        import struct as _s

        out = []
        for x in v:
            y = x * scale
            # replicate CAST(... AS FLOAT) then round(double * 1e6)
            y = _s.unpack("f", _s.pack("f", y))[0]
            out.append(round(y * 1_000_000))
        return out

    assert esem_rows, "no flagged pairs at all"
    for r in esem_rows:
        if r.vec_id >= _ES_H_OFFSET:
            a = q(vecs[r.vec_id - _ES_H_OFFSET], 0.5)
        elif r.vec_id >= _ES_V_OFFSET:
            a = q(vecs[r.vec_id - _ES_V_OFFSET])
        else:
            a = q(vecs[r.vec_id])
        b = q(vecs[r.eval_vec_id])
        dot = sum(x * y for x, y in zip(a, b))
        n2a = sum(x * x for x in a)
        n2b = sum(y * y for y in b)
        assert dot == r.dot
        assert dot >= 0
        assert 400 * dot * dot >= 361 * n2a * n2b


def test_esem_candidate_kernel_matches_explode_path(spark, sf_dir, esem_rows):
    # r17 equivalence pin: the screened-candidate mapInPandas kernel
    # (superset screen + unchanged exact decimal(38) filter) must be
    # row-for-row identical to the verbatim r16 expression path
    # (pandas_udf all-dots + posexplode + element_at + interpreted tn2
    # fold), which this test rebuilds literally.
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from market_pulse_data_pipeline_spark.queries.common import t
    from market_pulse_data_pipeline_spark.queries.r13_staging import (
        _ES_DEN,
        _ES_NUM,
        _ES_SCALE,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    evs = emb.filter(F.col("vec_id") % _ES_EVAL_MOD == 0)
    train = (
        emb.filter(F.col("vec_id") % _ES_EVAL_MOD != 0)
        .unionByName(
            evs.select(
                (F.col("vec_id") + _ES_V_OFFSET).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            evs.select(
                (F.col("vec_id") + _ES_H_OFFSET).alias("vec_id"),
                F.transform(
                    "embedding", lambda x: (x * 0.5).cast("float")
                ).alias("embedding"),
            )
        )
        .unionByName(
            evs.select(
                (F.col("vec_id") + _ES_N_OFFSET).alias("vec_id"),
                F.transform("embedding", lambda x: (-x).cast("float")).alias(
                    "embedding"
                ),
            )
        )
    )
    quant = lambda col: F.transform(  # noqa: E731
        col, lambda x: F.round(x.cast("double") * _ES_SCALE).cast("long")
    )
    ev_rows = sorted(
        evs.select("vec_id", quant(F.col("embedding")).alias("q")).collect(),
        key=lambda r: r["vec_id"],
    )
    ev_mat = np.array([[int(c) for c in r["q"]] for r in ev_rows], np.int64)
    eid_lit = F.array(*[F.lit(int(r["vec_id"])) for r in ev_rows])
    en2_lit = F.array(
        *[F.lit(int(v)) for v in (ev_mat * ev_mat).sum(axis=1)]
    )

    @pandas_udf(T.ArrayType(T.LongType()))
    def _eval_dots(tv: pd.Series) -> pd.Series:
        if len(tv) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(tv.to_numpy()).astype(np.int64)
        return pd.Series(list(x @ ev_mat.T))

    tq = train.select("vec_id", quant(F.col("embedding")).alias("tv")).withColumn(
        "tn2",
        F.aggregate(
            F.transform("tv", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    pairs = tq.select(
        "vec_id", "tn2", F.posexplode(_eval_dots("tv")).alias("pos", "dot")
    ).select(
        "vec_id",
        F.element_at(eid_lit, F.col("pos") + 1).alias("eval_vec_id"),
        "dot",
        "tn2",
        F.element_at(en2_lit, F.col("pos") + 1).alias("en2"),
    )
    dec = "decimal(38,0)"
    legacy = (
        pairs.filter(
            (F.col("dot") >= 0)
            & (
                F.col("dot").cast(dec) * F.col("dot").cast(dec) * _ES_DEN
                >= F.col("tn2").cast(dec) * F.col("en2").cast(dec) * _ES_NUM
            )
        )
        .select("vec_id", "eval_vec_id", "dot")
        .orderBy("vec_id", "eval_vec_id")
        .collect()
    )
    got = [(r.vec_id, r.eval_vec_id, r.dot) for r in esem_rows]
    want = [(r.vec_id, r.eval_vec_id, r.dot) for r in legacy]
    assert got == want


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
        QUERIES["rendezvous_shard_assignment"].spark(spark, sf_dir).collect()
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
# lsh_recall_curve
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def rc_rows(spark, sf_dir):
    return {
        r.j_bucket: r
        for r in QUERIES["lsh_recall_curve"].spark(spark, sf_dir).collect()
    }


def test_recall_curve_shape(rc_rows):
    # counts are coherent and the top decile exists (verbatim plants
    # guarantee J = 1 pairs)
    assert 9 in rc_rows, "no J >= 0.9 pairs despite verbatim plants"
    for r in rc_rows.values():
        assert 0 <= r.j_bucket <= 9
        assert 0 <= r.n_candidates <= r.n_pairs
        # replay round_div's decimal half-away-from-zero route, NOT
        # builtin round() (banker's rounding): an exact dyadic ratio
        # like 1/32 = 0.03125 rounds to 0.0312 under Python round but
        # 0.0313 under the engines' half-up rule (ADVICE r10)
        expect = float(
            (Decimal(r.n_candidates) / Decimal(r.n_pairs))
            .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert abs(r.recall - expect) < 1e-9


def test_recall_curve_endpoints(rc_rows, sf_dir):
    # the banded scheme (16 perms x 4 bands, midpoint ~0.71) must
    # capture essentially everything at J >= 0.9 and essentially
    # nothing at J < 0.1 — the s-curve's defining endpoints
    assert rc_rows[9].recall == 1.0, "J >= 0.9 pairs escaped the bands"
    if 0 in rc_rows:
        assert rc_rows[0].recall <= 0.05
    # verbatim plants: every 17th doc (with >= 3 tokens) contributes
    # at least one J = 1 pair
    import duckdb

    n_seeds = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % {_RC_PLANT_MOD} = 0 "
        f"AND len(string_split(text, ' ')) >= 3"
    ).fetchone()[0]
    assert rc_rows[9].n_pairs >= n_seeds


def test_rc_plant_ids_clear_fixture_ids(sf_dir):
    import duckdb

    hi = duckdb.sql(
        f"SELECT max(doc_id) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert hi + _RC_PLANT_MOD < _RC_V_OFFSET
