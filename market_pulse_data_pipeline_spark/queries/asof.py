"""As-of and range joins as driver-contract queries.

Neither operator exists natively in Spark; both are classic time-series
/ interval workloads (SURVEY §2.3 notes the reference has no theta or
as-of joins — these are north-star additions). The DuckDB oracles use
the engine-native forms (ASOF JOIN; a plain range-predicate join) so the
Spark implementations' bucketing/window tricks are verified against
straightforward semantics.

- ``grid_radius_join`` — the scale-safe SPATIAL join: all point pairs
  within radius R, found by bucketing points into an R-sized grid and
  probing each point's 3x3 neighbor cells as an EQUI-join (the
  geohash/cell-join pattern) — versus the theta-join |p - q| <= R
  that has no hash key and degenerates to a cross product. Every
  quantity is an exact integer (planted integer coordinates, squared
  Euclidean distance, cross-multiplied R²), and each qualifying pair
  is emitted EXACTLY once without a dedup pass (the probe side
  explodes to 9 cells, the build side keeps its one true cell).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.operators.asof import (
    asof_join,
    range_join_buckets,
)
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_sum,
    sql_round_sum,
    t,
)

_ANCHOR_MOD = 50  # every 50th event is an "anchor" state change


@register(
    "asof_join_latest_anchor",
    f"""
    WITH anchors AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ats,
             MAX(value) AS anchor_value
      FROM events WHERE event_id % {_ANCHOR_MOD} = 0
      GROUP BY 1, 2
    ), ev AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    )
    SELECT ev.event_id, ev.user_id, epoch_us(ev.ts) AS ts_us,
           epoch_us(a.ats) AS anchor_ts_us, a.anchor_value
    FROM ev ASOF LEFT JOIN anchors a
      ON ev.user_id = a.user_id AND ev.ts >= a.ats
    """,
    bench=True,
    doc="backward-inclusive AS-OF JOIN: each event picks up the most "
    "recent per-user anchor state at or before its timestamp. Spark side "
    "is the merge-asof pattern (union + one window pass per key — a "
    "single shuffle, no range-join blow-up); oracle is DuckDB's native "
    "ASOF JOIN. Anchors are deduped to unique (user, ts) as any as-of "
    "semantics requires; times emitted as epoch micros.",
)
def asof_join_latest_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    anchors = (
        ev.filter(F.col("event_id") % _ANCHOR_MOD == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("anchor_value"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"),
        anchors,
        key="user_id",
        left_time="ts",
        right_time="ts",
        payload_cols=["ts", "anchor_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("asof_ts").alias("anchor_ts_us"),
        F.col("asof_anchor_value").alias("anchor_value"),
    )


_BAND_MOD = 20
_BAND_WIDTH = 40_000


@register(
    "range_join_price_bands",
    f"""
    WITH bands AS (
      SELECT p_partkey AS band_id,
             p_retailprice * 100 AS band_start,
             p_retailprice * 100 + {_BAND_WIDTH} AS band_end
      FROM part WHERE p_partkey % {_BAND_MOD} = 0
    )
    SELECT band_id, COUNT(*) AS n_orders,
           {sql_round_sum('o_totalprice', 6, 2)} AS total_price
    FROM orders JOIN bands
      ON o_totalprice >= band_start AND o_totalprice < band_end
    GROUP BY band_id
    """,
    doc="interval-containment range join (order price ∈ derived band) "
    "via fixed-width bucket expansion + equi-join — avoids the "
    "broadcast-nested-loop a pure range predicate plans. Oracle uses the "
    "plain range-predicate join; results aggregated per band.",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_partkey") % _BAND_MOD == 0)
    bands = part.select(
        F.col("p_partkey").alias("band_id"),
        (F.col("p_retailprice") * 100).alias("band_start"),
        (F.col("p_retailprice") * 100 + _BAND_WIDTH).alias("band_end"),
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    matched = range_join_buckets(
        orders, bands, "o_totalprice", "band_start", "band_end", _BAND_WIDTH
    )
    return matched.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        round_sum(F.col("o_totalprice"), 6, 2).alias("total_price"),
    )


# --------------------------------------------------------------------
# grid_radius_join
# --------------------------------------------------------------------

_GR_MOD = 10_007  # coordinate space (prime, so the LCG coords spread)
_GR_AX, _GR_AY, _GR_BY = 48_271, 16_807, 3  # deterministic planted coords
_GR_R = 150  # radius; cell size == R so 3x3 neighbor cells COVER it


def _grid_oracle() -> str:
    dcell = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    return f"""
    WITH pts AS (
      SELECT doc_id AS id,
             (doc_id * {_GR_AX}) % {_GR_MOD} AS x,
             (doc_id * {_GR_AY} + {_GR_BY}) % {_GR_MOD} AS y
      FROM documents
    ),
    cells AS (
      SELECT id, x, y,
             CAST(x // {_GR_R} AS BIGINT) AS cx,
             CAST(y // {_GR_R} AS BIGINT) AS cy
      FROM pts
    ),
    probe AS (
      SELECT c.id, c.x, c.y, c.cx + d.dx AS cx, c.cy + d.dy AS cy
      FROM cells c, (VALUES {dcell}) AS d(dx, dy)
    )
    SELECT p.id AS id_a, b.id AS id_b,
           (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y)
             AS dist_sq
    FROM probe p
    JOIN cells b ON p.cx = b.cx AND p.cy = b.cy AND p.id < b.id
    WHERE (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y)
            <= {_GR_R * _GR_R}
    ORDER BY id_a, id_b
    """


@register(
    "grid_radius_join",
    _grid_oracle(),
    doc="spatial radius join the scale-safe way: all point pairs "
    "within R, via an R-sized grid — the probe side explodes each "
    "point into its 3x3 neighbor CELLS (a bounded 9x fan-out) and "
    "equi-joins the build side's single true cell, so candidate "
    "volume is local density, never n² (the naive |p-q| <= R theta-"
    "join has no hash key and plans as a cross product). Cell size = "
    "R makes the 3x3 neighborhood a COVER: any pair within R shares "
    "a probe/build cell, so there are no false negatives (pytest "
    "brute-force replay), and each qualifying pair is emitted exactly "
    "once without a dedup pass (the build side has ONE cell). Every "
    "compared quantity is an exact integer: deterministic planted "
    "integer coordinates (LCG over a prime space, the house idiom), "
    "squared Euclidean distance against R² — no sqrt, no float "
    "boundary. 100 TB shape: one map-only cell projection, one "
    "bounded 9x explode, one equi-join shuffled on cell id (skew = "
    "real spatial hotspots, handled by AQE skew-join like any other "
    "key) — the geohash-join pattern every geospatial engine uses.",
)
def grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        ((F.col("doc_id") * _GR_AX) % _GR_MOD).alias("x"),
        ((F.col("doc_id") * _GR_AY + _GR_BY) % _GR_MOD).alias("y"),
    )
    cells = pts.select(
        "id",
        "x",
        "y",
        F.floor(F.col("x") / _GR_R).cast("long").alias("cx"),
        F.floor(F.col("y") / _GR_R).cast("long").alias("cy"),
    )
    deltas = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = cells.select(
        "id", "x", "y", "cx", "cy", F.explode(deltas).alias("d")
    ).select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("cx") + F.col("d.dx")).alias("cx"),
        (F.col("cy") + F.col("d.dy")).alias("cy"),
    )
    build = cells.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    dist_sq = (F.col("xa") - F.col("xb")) * (
        F.col("xa") - F.col("xb")
    ) + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(
            build,
            ["cx", "cy"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_sq", dist_sq)
        .filter(F.col("dist_sq") <= _GR_R * _GR_R)
        .select("id_a", "id_b", "dist_sq")
        .orderBy("id_a", "id_b")
    )
