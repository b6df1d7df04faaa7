"""Exactness twins for functions/clustering.py.

K-means: the Spark fit must produce IDENTICAL assignments to a pure-
numpy replay of the same deterministic algorithm (first-k init, ties
toward lower cluster id, 5 Lloyd iterations). PCA: projections must
match a numpy eigendecomposition of the same covariance up to float
tolerance (partial-sum order differs between engines).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.clustering import (
    SNAP_SCALE,
    kmeans,
    pca_components,
    pca_project,
    quantize_vec_py,
)
from market_pulse_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, x


def numpy_kmeans(x: np.ndarray, k: int, iters: int) -> np.ndarray:
    c = x[:k].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = np.argmin(d2, axis=1)
        for ci in range(k):
            if (a == ci).any():
                c[ci] = x[a == ci].mean(axis=0)
    d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    return np.argmin(d2, axis=1)


def test_kmeans_matches_numpy_exactly(spark, emb, emb_np):
    ids, x = emb_np
    expected = numpy_kmeans(x, k=5, iters=3)
    got_rows = kmeans(emb, k=5, iters=3).orderBy("vec_id").collect()
    got = np.array([r.cluster for r in got_rows])
    assert np.array_equal(ids, np.array([r.vec_id for r in got_rows]))
    # identical argmin over float64 distances; mean reassociation between
    # Spark and numpy can flip an exact boundary tie, but the synthetic
    # clusters are well separated — require full equality.
    assert np.array_equal(got, expected)


def test_kmeans_all_clusters_nonempty(emb):
    sizes = kmeans(emb, k=5, iters=3).groupBy("cluster").count().collect()
    assert len(sizes) == 5
    assert all(r["count"] > 0 for r in sizes)


def numpy_kmeans_snapped(
    x: np.ndarray, k: int, iters: int, scale: int
) -> np.ndarray:
    """Pure-int replay of kmeans_snapped: quantize, exact int64
    distances, truncating-division centroid updates."""
    # half-away-from-zero, matching Spark's HALF_UP round() and
    # DuckDB's round() (np.round would use half-to-even)
    v = x * scale
    q = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
    c = q[:k].copy()
    for _ in range(iters):
        d2 = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = np.argmin(d2, axis=1)
        for ci in range(k):
            members = q[a == ci]
            if len(members):
                s = members.sum(axis=0)
                n = len(members)
                tdiv = np.abs(s) // n
                c[ci] = np.where(s >= 0, tdiv, -tdiv)
    d2 = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    return np.argmin(d2, axis=1)


def test_kmeans_snapped_matches_int_replay_exactly(spark, emb, emb_np):
    """The oracle-bearing variant: BIT-identical to a pure-integer
    replay — no float tolerance anywhere (this is the property that
    lets embedding_kmeans_clusters/_sizes carry a DuckDB value-hash
    oracle)."""
    from market_pulse_data_pipeline_spark.functions.clustering import (
        SNAP_SCALE,
        kmeans_snapped,
    )

    ids, x = emb_np
    expected = numpy_kmeans_snapped(x, k=5, iters=3, scale=SNAP_SCALE)
    got_rows = kmeans_snapped(emb, k=5, iters=3).orderBy("vec_id").collect()
    got = np.array([r.cluster for r in got_rows])
    assert np.array_equal(ids, np.array([r.vec_id for r in got_rows]))
    assert np.array_equal(got, expected)


def test_pca_components_match_numpy(emb, emb_np):
    _, x = emb_np
    comp, mean = pca_components(emb, dim=x.shape[1], n_components=2)
    np.testing.assert_allclose(mean, x.mean(axis=0), rtol=1e-9)
    cov = np.cov(x, rowvar=False, bias=True)
    _, vecs = np.linalg.eigh(cov)
    expected = vecs[:, ::-1][:, :2].T
    for c in range(2):
        m = np.argmax(np.abs(expected[c]))
        if expected[c, m] < 0:
            expected[c] = -expected[c]
    np.testing.assert_allclose(np.abs(comp), np.abs(expected), atol=1e-6)


def test_pca_projection_variance_order(emb, emb_np):
    _, x = emb_np
    rows = pca_project(emb, dim=x.shape[1], n_components=2).collect()
    p1 = np.array([r.pc1 for r in rows])
    p2 = np.array([r.pc2 for r in rows])
    assert len(rows) == len(x)
    # top component carries at least as much variance as the second
    assert p1.var() >= p2.var()


def numpy_pq(x: np.ndarray, m: int, k: int, iters: int):
    sub = x.shape[1] // m
    books = np.zeros((m, k, sub))
    codes = np.zeros((x.shape[0], m), dtype=np.int64)
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        c = xs[:k].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for ci in range(k):
                if (a == ci).any():
                    c[ci] = xs[a == ci].mean(axis=0)
        books[j] = c
        d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d2, axis=1)
    return books, codes


def test_pq_matches_numpy_exactly(spark, emb, emb_np):
    from market_pulse_data_pipeline_spark.functions.clustering import (
        pq_encode,
        pq_train,
    )

    ids, x = emb_np
    m, k, iters = 8, 16, 3
    books = pq_train(emb, m=m, k=k, iters=iters)
    ref_books, ref_codes = numpy_pq(x, m, k, iters)
    assert np.allclose(books, ref_books)
    got = {
        r.vec_id: (list(r.codes), r.err)
        for r in pq_encode(emb, books).collect()
    }
    order = {v: i for i, v in enumerate(ids)}
    recon_dim = x.shape[1] // m
    for vid, (codes, err) in got.items():
        i = order[vid]
        assert codes == list(ref_codes[i]), vid
        recon = np.concatenate(
            [ref_books[j][ref_codes[i, j]] for j in range(m)]
        )
        assert abs(err - np.sqrt(((x[i] - recon) ** 2).sum())) < 1e-9
    # compression accounting: m codes of ceil(log2 k) bits vs dim doubles
    assert m * 4 < x.shape[1] * 64


def test_pq_rejects_indivisible_dim(spark, emb):
    from market_pulse_data_pipeline_spark.functions.clustering import pq_train

    with pytest.raises(ValueError):
        pq_train(emb, m=7)


def test_pq_adc_recall(spark, emb, emb_np):
    from market_pulse_data_pipeline_spark.queries.ml import ann_pq_adc_topk

    ids, x = emb_np
    got = [r.vec_id for r in ann_pq_adc_topk(spark, SF_DIR).collect()]
    q = x[np.argsort(ids)[0]]
    exact = ids[np.argsort(((x - q) ** 2).sum(axis=1))][:10]
    recall = len(set(got) & set(exact)) / 10
    # PQ on this synthetic (near-uniform) embedding table is a hard
    # case even with the 64-candidate exact re-rank; the bar is "far
    # above chance" (chance = 10/n ≈ 0.05)
    assert recall >= 0.5, (recall, got, list(exact))
    # the probe vector itself (distance 0) must always be recalled
    assert exact[0] in got


def test_pq_snapped_fused_equals_sequential_subspace_fits(spark, emb):
    # pq_train_snapped fuses the m per-subspace Lloyd fits into one
    # loop; the books must stay BIT-IDENTICAL to m sequential
    # kmeans_snapped_fit calls over the subvector slices (the form the
    # DuckDB oracle unrolls) — int64 sums are combination-order-
    # independent and each subspace's init/argmin inputs are unchanged,
    # so any divergence is a bug in the fusion
    from pyspark.sql import functions as F

    from market_pulse_data_pipeline_spark.functions.clustering import (
        kmeans_snapped_fit,
        pq_train_snapped,
    )

    m, k, iters = 8, 16, 3
    fused = pq_train_snapped(emb, m=m, k=k, iters=iters)
    first = emb.select("embedding").head()
    sub = len(first[0]) // m
    for j in range(m):
        sl = emb.select(
            "vec_id",
            F.slice(F.col("embedding"), j * sub + 1, sub).alias("subvec"),
        )
        _, cent = kmeans_snapped_fit(
            sl, k, iters, id_col="vec_id", vec_col="subvec"
        )
        assert (fused[j] == cent).all(), f"subspace {j} diverged"


_PARITY_CON = duckdb.connect()


@settings(max_examples=60, deadline=None)
@given(
    xs=st.lists(
        st.one_of(
            st.floats(
                min_value=-10.0,
                max_value=10.0,
                allow_nan=False,
                allow_infinity=False,
            ),
            # exact decimal-half boundary values: k.5 / SCALE —
            # the HALF_UP-vs-float-path divergence candidates
            st.integers(min_value=-2 * SNAP_SCALE, max_value=2 * SNAP_SCALE).map(
                lambda k: (k + 0.5) / SNAP_SCALE
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_quantize_vec_py_matches_duckdb_round(xs):
    # every new oracle (LSH sigs, IVF probe, PQ/ADC tables) hinges on
    # the driver-side Decimal HALF_UP quantization agreeing with the
    # oracle-side round(x * scale) — fuzz that pair directly, one
    # vectorized query per example, including exact halfway points
    # where rounding modes diverge
    got = quantize_vec_py(xs)
    exp = [
        r[0]
        for r in _PARITY_CON.execute(
            f"SELECT CAST(round(CAST(t.x AS DOUBLE) * {SNAP_SCALE}) AS BIGINT)"
            " FROM (SELECT UNNEST(?) AS x, UNNEST(range(len(?))) AS i) t"
            " ORDER BY t.i",
            [xs, xs],
        ).fetchall()
    ]
    assert got == exp, f"first divergence: {next((x, g, e) for x, g, e in zip(xs, got, exp) if g != e)}"


def test_quantize_vec_py_matches_spark_round(spark):
    # third leg of the parity triangle: executor-side F.round
    # quantization on an adversarial batch (exact decimal halves,
    # negatives, subnormal-ish magnitudes) equals the driver-side
    # Decimal HALF_UP twin
    vals = (
        [(k + 0.5) / SNAP_SCALE for k in range(-5, 6)]
        + [0.0, -0.0, 1e-9, -1e-9, 3.1415926535, -2.7182818284]
        + [(k + 0.5) / SNAP_SCALE for k in (999_999, -999_999, 123_456)]
    )
    df = spark.createDataFrame([Row(embedding=vals)])
    got = quantize_vec_py(vals)
    row = df.select(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * SNAP_SCALE).cast("long"),
        ).alias("q")
    ).head()
    assert list(row.q) == got
