"""functions/heavyhitters.py: Misra-Gries heavy hitters (sketch-propose,
exact-verify). Each test pins the operator's defining contract on
contrived inputs where the expected answer is computable by hand; the
registered query's oracle equivalence is in test_queries_oracle.py."""

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.heavyhitters import (
    mg_fold,
    misra_gries_candidates,
)


def _stream(spark, values, partitions):
    return spark.createDataFrame(
        [Row(token=v) for v in values]
    ).repartition(partitions)


@pytest.mark.parametrize("partitions", [1, 3, 8])
def test_mg_candidates_contain_every_heavy_hitter(spark, partitions):
    # 1000 items: 'a' x 400, 'b' x 300, tail of 300 distinct singletons.
    # With k = 5 the threshold is n/k = 200: {a, b} are heavy.
    values = ["a"] * 400 + ["b"] * 300 + [f"t{i}" for i in range(300)]
    cand = set(
        r.token
        for r in misra_gries_candidates(
            _stream(spark, values, partitions), "token", 5
        ).collect()
    )
    assert {"a", "b"} <= cand
    # |summary| <= (k-1) per partition
    assert len(cand) <= 4 * partitions


@pytest.mark.parametrize("partitions", [1, 4])
def test_mg_verified_result_is_partitioning_independent(spark, partitions):
    values = ["x"] * 50 + ["y"] * 30 + ["z"] * 15 + list("abcde")
    k = 4  # threshold 100/4 = 25: {x, y} qualify, z (15) does not
    tok = _stream(spark, values, partitions)
    cand = misra_gries_candidates(tok, "token", k)
    n_total = len(values)
    got = {
        r.token: r.n
        for r in (
            tok.join(F.broadcast(cand), "token", "left_semi")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") * k > n_total)
            .collect()
        )
    }
    exact = {
        t: c for t, c in Counter(values).items() if c * k > n_total
    }
    assert got == exact == {"x": 50, "y": 30}


def test_mg_rejects_degenerate_k(spark):
    with pytest.raises(ValueError):
        misra_gries_candidates(_stream(spark, ["a"], 1), "token", 1)


_ITEMS = st.integers(min_value=0, max_value=30).map(lambda i: f"i{i}")


@settings(max_examples=150, deadline=None)
@given(
    stream=st.lists(_ITEMS, min_size=1, max_size=400),
    k=st.integers(min_value=2, max_value=12),
    n_batches=st.integers(min_value=1, max_value=7),
)
def test_mg_fold_superset_and_size_invariants(stream, k, n_batches):
    # split the stream into arbitrary contiguous batches and fold
    counters = Counter()
    step = max(1, len(stream) // n_batches)
    for i in range(0, len(stream), step):
        batch = Counter(stream[i : i + step])
        counters = mg_fold(counters, dict(batch), k)
    exact = Counter(stream)
    n = len(stream)
    # summary never exceeds k-1 counters
    assert len(counters) <= k - 1
    # every true heavy hitter (count > n/k) survives the fold
    heavy = {t for t, c in exact.items() if c * k > n}
    assert heavy <= set(counters)
    # estimates never overcount and undercount by at most n/k
    for t, c in counters.items():
        assert c <= exact[t]
        assert exact[t] - c <= n / k
