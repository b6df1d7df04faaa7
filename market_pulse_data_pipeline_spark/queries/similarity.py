"""Similarity search over the `embeddings` table (north-star extension).

Brute-force cosine top-k as the correctness baseline: dot products via
zip_with + aggregate (JVM-side, sequential fold → deterministic and
identical to the oracle's in-order list_sum). The LSH-bucketed scale
path lives in functions.similarity (engine-specific hashing → rows-only
check).

- ``colbert_maxsim_topk`` — late-interaction retrieval (ColBERT,
  Khattab & Zaharia, SIGIR 2020): a query is a BAG of token vectors
  and a document scores sum-over-query-tokens of the max dot product
  against any of its token vectors. The multi-vector complement of
  the single-vector ANN family; exact int64 arithmetic because the
  fixture embeddings are unit-norm, so the quantized dot IS the
  scaled cosine.
- ``cross_label_margin_mining`` — margin-based nearest-neighbor
  mining (the Artetxe & Schwenk 2019 ratio-margin criterion behind
  LASER/CCMatrix bitext mining): a candidate pair is accepted not on
  raw cosine but when the best match BEATS ITS OWN RUNNERS-UP by a
  margin — ratio = best / mean(next-k), accept when > 6/5. Labels
  play the two sides (query label vs every other label). Dots ride
  the repo-wide round(x*1e6) int64 quantization, so best, the
  runner-up sum, and the accept flag (5*k*best > 6*sum_runnerup) are
  EXACT integers; only the reported ratio rounds, through the shared
  decimal route. Completes the similarity family (plain top-k,
  recall@k, ANN) with the mining-quality criterion production uses to
  harvest pairs, not just rank them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.clustering import SNAP_SCALE
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)
from market_pulse_data_pipeline_spark.queries.dedup import _SD_DIM

_QUERY_VEC_ID = 0
_TOP_K = 10


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


@register(
    "similarity_topk_cosine",
    f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_QUERY_VEC_ID}
    ), scored AS (
      SELECT vec_id, label,
             list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i]))
               / (sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i])))
                  * sqrt(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i]))))
               AS cos_raw
      FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), q
    )
    SELECT vec_id, label, ROUND(cos_raw, 6) AS cosine
    FROM scored WHERE vec_id <> {_QUERY_VEC_ID}
    ORDER BY ROUND(cos_raw, 6) DESC, vec_id
    LIMIT {_TOP_K}
    """,
    bench=True,
    doc="brute-force cosine top-k against one query vector; deterministic "
    "tie-break on vec_id",
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qrow = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>").alias("q"))
        .head()
    )
    qlit = F.array(*[F.lit(float(x)) for x in qrow["q"]])
    v = F.col("embedding").cast("array<double>")
    cos = _dot(v, qlit) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(qlit, qlit)))
    return (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", "label", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(_TOP_K)
    )


@register(
    "embedding_label_centroid_norm",
    f"""
    SELECT label, COUNT(*) AS n_vectors,
           {sql_round_div(
               "CAST(SUM(CAST(list_sum(list_transform("
               "CAST(embedding AS DOUBLE[]), x -> x * x)) "
               "AS DECIMAL(18,6))) AS DOUBLE)",
               "COUNT(*)",
               4,
           )} AS avg_sq_norm
    FROM embeddings GROUP BY label
    """,
    doc="per-label embedding stats (avg squared L2 norm) — array aggregate "
    "pushed through a relational groupBy",
)
def embedding_label_centroid_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sq = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        round_div(
            F.sum(sq.cast("decimal(18,6)")).cast("double"), F.count(F.lit(1)), 4
        ).alias("avg_sq_norm"),
    )


@register(
    "embedding_int8_quantize",
    """
    WITH prep AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    )
    SELECT vec_id,
           CAST(ROUND(CAST(max_abs / 127 AS DECIMAL(28,12)), 9) AS DOUBLE)
             AS scale,
           array_to_string(list_transform(v,
                 x -> CAST(FLOOR(x * 127 / max_abs + 0.5) AS INTEGER)), ',')
             AS q_csv,
           CAST(list_sum(list_transform(v,
                 x -> CAST(FLOOR(x * 127 / max_abs + 0.5) AS INTEGER)))
                AS BIGINT) AS q_sum
    FROM prep
    """,
    doc="int8 symmetric quantization of the embedding column (per-vector "
    "absmax scale) — the storage-compression step of a vector pipeline "
    "(4x smaller than float32 at 100 TB, re-rank on dequantized values). "
    "Quantized codes use floor(x+0.5) instead of double-path ROUND: "
    "floor on doubles is exact and bit-identical across engines, so the "
    "full int8 code arrays hash-match the oracle; the scale is rounded "
    "on exact decimals. The codes are emitted as a comma-joined string "
    "(q_csv) rather than a raw array<int> column: the harness "
    "canonicalizes results through pandas sort_values, which cannot "
    "factorize Python lists — top-level result columns must be scalar. "
    "Map-only — no shuffle at any size.",
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform(
        v, lambda x: F.floor(x * 127 / max_abs + F.lit(0.5)).cast("int")
    )
    return emb.select(
        "vec_id",
        F.round((max_abs / 127).cast("decimal(28,12)"), 9)
        .cast("double")
        .alias("scale"),
        F.concat_ws(",", q.cast("array<string>")).alias("q_csv"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias(
            "q_sum"
        ),
    )


@register(
    "embedding_quantization_error",
    """
    WITH prep AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    ), deq AS (
      SELECT vec_id, v, max_abs / 127 AS scale,
             list_transform(v, x -> CAST(FLOOR(x * 127 / max_abs + 0.5)
                                         AS INTEGER)) AS q
      FROM prep
    )
    SELECT vec_id,
           CAST(ROUND(CAST(list_max(
             list_transform(list_zip(v, q),
               p -> abs(p[1] - p[2] * scale))) AS DECIMAL(28,12)), 9)
             AS DOUBLE) AS max_abs_err,
           list_max(list_transform(list_zip(v, q),
             p -> abs(p[1] - p[2] * scale))) <= scale * 0.5 + 1e-12
             AS within_half_step
    FROM deq
    """,
    doc="reconstruction error of the int8 quantization: per vector, the "
    "max |x - dequantized(x)| and a proof bit that every component sits "
    "within half a quantization step (the correctness bound of "
    "round-to-nearest). Same exact-arithmetic discipline as the "
    "quantizer (floor-based codes, identical double ops both engines), "
    "so even the error values hash-match. Map-only.",
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / 127
    q = F.transform(
        v, lambda x: F.floor(x * 127 / max_abs + F.lit(0.5)).cast("int")
    )
    err = F.array_max(
        F.zip_with(v, q, lambda x, qi: F.abs(x - qi * scale))
    )
    return emb.select(
        "vec_id",
        F.round(err.cast("decimal(28,12)"), 9).cast("double").alias("max_abs_err"),
        (err <= scale * 0.5 + F.lit(1e-12)).alias("within_half_step"),
    )


@register(
    "label_centroid_pairwise_cosine",
    """
    WITH xs AS (
      SELECT label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
    ), sums AS (
      SELECT label, pos,
             CAST(SUM(CAST(x AS DECIMAL(20,12))) AS DOUBLE) AS m
      FROM xs GROUP BY label, pos
    ), dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(CAST(a.m * b.m AS DECIMAL(38,24))) AS DOUBLE) AS dot
      FROM sums a JOIN sums b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label
    ), norms AS (
      SELECT label, CAST(SUM(CAST(m * m AS DECIMAL(38,24))) AS DOUBLE) AS sq
      FROM sums GROUP BY label
    )
    SELECT label_a, label_b,
           CAST(ROUND(CAST(dot / (sqrt(na.sq) * sqrt(nb.sq))
                           AS DECIMAL(28,10)), 6) AS DOUBLE) AS cosine
    FROM dots
    JOIN norms na ON label_a = na.label
    JOIN norms nb ON label_b = nb.label
    ORDER BY label_a, label_b
    """,
    doc="pairwise cosine between label centroids, fully relational (no "
    "driver collect): positional explode -> per-(label, pos) exact "
    "decimal SUM (cosine is scale-invariant, so sums replace means and "
    "no division happens until the end) -> self-join on pos for dots. "
    "The decimal-summed components are exactly double-representable, "
    "products re-enter decimals for order-independent summation, and "
    "the final quotient rounds through a decimal — bit-identical "
    "across engines. At 100 TB the sums table is labels x dim rows "
    "(tiny) regardless of corpus size.",
)
def label_centroid_pairwise_cosine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    pos_x = F.posexplode(F.col("embedding").cast("array<double>"))
    xs = emb.select("label", pos_x.alias("pos", "x"))
    sums = xs.groupBy("label", "pos").agg(
        F.sum(F.col("x").cast("decimal(20,12)")).cast("double").alias("m")
    )
    a, b = sums.alias("a"), sums.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum((F.col("a.m") * F.col("b.m")).cast("decimal(38,24)"))
            .cast("double")
            .alias("dot")
        )
    )
    norms = sums.groupBy("label").agg(
        F.sum((F.col("m") * F.col("m")).cast("decimal(38,24)"))
        .cast("double")
        .alias("sq")
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cos = F.round(
        (
            F.col("dot")
            / (F.sqrt(F.col("na.sq")) * F.sqrt(F.col("nb.sq")))
        ).cast("decimal(28,10)"),
        6,
    ).cast("double")
    return (
        dots.join(na, F.col("label_a") == F.col("na.label"))
        .join(nb, F.col("label_b") == F.col("nb.label"))
        .select("label_a", "label_b", cos.alias("cosine"))
        .orderBy("label_a", "label_b")
    )


_MAT_DIM = 16  # truncated (Matryoshka) prefix dimensions


@register(
    "matryoshka_truncation_quality",
    f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_QUERY_VEC_ID}
    ), scored AS (
      SELECT vec_id,
             ROUND(
               list_sum(list_transform(range(1, len(v) + 1),
                        i -> v[i] * qv[i]))
               / (sqrt(list_sum(list_transform(range(1, len(v) + 1),
                         i -> v[i] * v[i])))
                  * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                           i -> qv[i] * qv[i])))), 6) AS cos_full,
             ROUND(
               list_sum(list_transform(range(1, {_MAT_DIM} + 1),
                        i -> v[i] * qv[i]))
               / (sqrt(list_sum(list_transform(range(1, {_MAT_DIM} + 1),
                         i -> v[i] * v[i])))
                  * sqrt(list_sum(list_transform(range(1, {_MAT_DIM} + 1),
                           i -> qv[i] * qv[i])))), 6) AS cos_trunc
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings), q
      WHERE vec_id <> {_QUERY_VEC_ID}
    )
    SELECT vec_id, cos_full, cos_trunc,
           ROUND(ABS(cos_full - cos_trunc), 6) AS trunc_err
    FROM scored
    ORDER BY cos_full DESC, vec_id LIMIT 50
    """,
    doc=f"Matryoshka-style truncation audit: cosine against the query "
    f"vector computed at full dimension AND on the first {_MAT_DIM} "
    "dims only, with the per-vector error — the measurement that "
    "decides how far an embedding store can truncate for cheap "
    "first-stage retrieval (truncated vectors are 4x smaller; "
    "re-rank uses full). Same JVM zip_with/aggregate fold as "
    "similarity_topk_cosine, identical IEEE ops both engines; "
    "map-only + TakeOrdered(50).",
)
def matryoshka_truncation_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qrow = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>").alias("q"))
        .head()
    )
    qfull = F.array(*[F.lit(float(x)) for x in qrow["q"]])
    qtr = F.array(*[F.lit(float(x)) for x in qrow["q"][:_MAT_DIM]])
    v = F.col("embedding").cast("array<double>")
    vtr = F.slice(v, 1, _MAT_DIM)

    def cos(a, b):
        return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))

    cf = F.round(cos(v, qfull), 6)
    ct = F.round(cos(vtr, qtr), 6)
    return (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select(
            "vec_id",
            cf.alias("cos_full"),
            ct.alias("cos_trunc"),
            F.round(F.abs(cf - ct), 6).alias("trunc_err"),
        )
        .orderBy(F.col("cos_full").desc(), "vec_id")
        .limit(50)
    )


@register(
    "contrastive_negative_sampling",
    """
    SELECT anchor_id, neg_id, neg_label FROM (
      SELECT a.vec_id AS anchor_id, n.vec_id AS neg_id,
             n.label AS neg_label,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY md5(CAST(a.vec_id AS VARCHAR) || ':'
                            || CAST(n.vec_id AS VARCHAR)),
                        n.vec_id) AS rn
      FROM (SELECT vec_id, label FROM embeddings WHERE vec_id < 25) a
      JOIN embeddings n
        ON n.label <> a.label
    ) WHERE rn <= 5
    """,
    doc="deterministic contrastive negative sampling: for each of 25 "
    "anchors, 5 RNG-free pseudo-random negatives drawn from the "
    "different-label pool via md5(anchor:candidate) ordering — the "
    "training-pair builder for contrastive embedding fine-tuning. "
    "Shape: the anchor set is tiny (broadcast) so the label-inequality "
    "join is map-side, then one window per anchor; per-anchor "
    "candidate ordering is uniform and reproducible across runs and "
    "engines.",
)
def contrastive_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    emb = t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label")
    )
    negs = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.md5(
            F.concat(
                F.col("anchor_id").cast("string"),
                F.lit(":"),
                F.col("neg_id").cast("string"),
            )
        ),
        "neg_id",
    )
    return (
        F.broadcast(anchors)
        .join(negs, F.col("neg_label") != F.col("a_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("anchor_id", "neg_id", "neg_label")
    )


# --------------------------------------------------------------------
# colbert_maxsim_topk
# --------------------------------------------------------------------

_MS_GROUP = 8  # token vectors per pseudo-document; power of two so the
assert _MS_GROUP & (_MS_GROUP - 1) == 0  # shiftright grouping is exact
_MS_TOPK = 10


@register(
    "colbert_maxsim_topk",
    f"""
    WITH p AS MATERIALIZED (
      SELECT vec_id,
             CAST(vec_id // {_MS_GROUP} AS BIGINT) AS grp,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {SNAP_SCALE}) AS BIGINT))
               AS v
      FROM embeddings
    ),
    pu AS MATERIALIZED (
      SELECT vec_id, grp, i AS pos, v[i + 1] AS qv
      FROM p CROSS JOIN (SELECT UNNEST(range(0, {_SD_DIM})) AS i) idx
    ),
    dots AS (
      SELECT q.vec_id AS q_tok, d.grp AS doc_id,
             d.vec_id AS d_tok, SUM(q.qv * d.qv) AS dot
      FROM pu q JOIN pu d ON d.pos = q.pos AND d.grp > 0
      WHERE q.grp = 0
      GROUP BY q.vec_id, d.grp, d.vec_id
    ),
    best AS (
      SELECT q_tok, doc_id, MAX(dot) AS best_dot
      FROM dots GROUP BY q_tok, doc_id
    )
    SELECT doc_id, CAST(SUM(best_dot) AS BIGINT) AS maxsim
    FROM best
    GROUP BY doc_id
    ORDER BY maxsim DESC, doc_id
    LIMIT {_MS_TOPK}
    """,
    bench=True,  # headline shape: late-interaction re-rank
    doc="ColBERT MaxSim late-interaction retrieval (Khattab & Zaharia, "
    "SIGIR 2020): vec_ids group into 8-token pseudo-documents "
    "(vec_id DIV 8; group 0 is the query), a document's score is "
    "sum-over-query-tokens of the max dot product against any of its "
    "token vectors, top-10 docs returned. Dots are exact int64 on "
    "round(x*1e6)-quantized vectors — the fixture embeddings are "
    "unit-norm, so the integer dot IS the scaled cosine and the whole "
    "score is portable integer arithmetic. 100 TB shape: the query's "
    "8x64 ints broadcast into a map-side zip_with over doc tokens "
    "(no shuffle to score), one hash aggregate per (doc, q_tok) max "
    "and one per doc sum, TakeOrderedAndProject for the top-k; a real "
    "deployment bounds the candidate doc set with the existing "
    "ANN/IVF primitives first — MaxSim is the re-rank stage.",
)
def colbert_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        # arithmetic shift = exact int64 division by 2^3 for every
        # NON-NEGATIVE long, including ids past 2^53 where the old
        # double-division truncation lost exactness. The engines agree
        # only on non-negatives (shiftright floors, DuckDB's //
        # truncates toward zero, so a negative vec_id would diverge) —
        # tests/test_dedup_queries.py pins min(vec_id) >= 0.
        F.shiftright(F.col("vec_id"), _MS_GROUP.bit_length() - 1).alias("grp"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * SNAP_SCALE).cast("long"),
        ).alias("v"),
    )
    # the query: group 0's token vectors — bounded (8 x dim ints)
    q_rows = emb.filter(F.col("grp") == 0).select("vec_id", "v").collect()
    docs = emb.filter(F.col("grp") > 0).select(
        F.col("grp").alias("doc_id"), F.col("v").alias("dv")
    )
    dot = lambda qvec: F.aggregate(  # noqa: E731
        F.zip_with(
            "dv",
            F.array(*[F.lit(int(c)) for c in qvec]),
            lambda x, y: x * y,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = docs.select(
        "doc_id",
        *[
            dot(r["v"]).alias(f"q{r['vec_id']}")
            for r in sorted(q_rows, key=lambda r: r["vec_id"])
        ],
    )
    per_tok_max = scored.groupBy("doc_id").agg(
        *[
            F.max(f"q{r['vec_id']}").alias(f"m{r['vec_id']}")
            for r in sorted(q_rows, key=lambda r: r["vec_id"])
        ]
    )
    maxsim = None
    for r in sorted(q_rows, key=lambda r: r["vec_id"]):
        c = F.col(f"m{r['vec_id']}")
        maxsim = c if maxsim is None else maxsim + c
    return (
        per_tok_max.select("doc_id", maxsim.alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("doc_id"))
        .limit(_MS_TOPK)
    )


# --------------------------------------------------------------------
# cross_label_margin_mining
# --------------------------------------------------------------------

_MM_SCALE = 1_000_000  # the repo-wide round(x*1e6) int64 quantization
_MM_Q_MOD = 41  # vec_id % 41 == 0 plays the query side
_MM_K = 4  # runner-up pool size (ranks 2..k+1)
_MM_NUM = 6  # accept when best / mean(runners-up) > 6/5
_MM_DEN = 5


def _mm_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(x * {_MM_SCALE}) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id % {_MM_Q_MOD} = 0),
    pairs AS (
      SELECT q.vec_id AS qid, q.label AS q_label,
             c.vec_id AS cid, c.label AS c_label,
             list_sum(list_transform(
               range(1, len(q.v) + 1),
               i -> q.v[i] * c.v[i])) AS dot
      FROM q JOIN e c ON c.label <> q.label
    ),
    pos AS (SELECT * FROM pairs WHERE dot > 0),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dot DESC, cid) AS rn
      FROM pos
    ),
    agg AS (
      SELECT qid, q_label,
             MAX(CASE WHEN rn = 1 THEN cid END) AS best_vec_id,
             MAX(CASE WHEN rn = 1 THEN c_label END) AS best_label,
             MAX(CASE WHEN rn = 1 THEN dot END) AS dot_best,
             SUM(CASE WHEN rn BETWEEN 2 AND {_MM_K + 1} THEN dot END)
               AS sum_runnerup,
             COUNT(*) AS n_pos
      FROM ranked GROUP BY 1, 2
    )
    SELECT qid, q_label, best_vec_id, best_label,
           CAST(dot_best AS BIGINT) AS dot_best,
           CAST(sum_runnerup AS BIGINT) AS sum_runnerup,
           {sql_round_div(f'{_MM_K} * dot_best', 'sum_runnerup')}
             AS margin_ratio,
           {_MM_DEN} * {_MM_K} * dot_best
             > {_MM_NUM} * sum_runnerup AS accepted
    FROM agg
    WHERE n_pos >= {_MM_K + 1}
    ORDER BY qid
    """


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """(vec_id, label, v) with the repo-wide round(x*1e6) int64
    quantization applied to the embedding column."""
    qv = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * _MM_SCALE).cast("long"),
    )
    return emb.select("vec_id", "label", qv.alias("v"))


def margin_mine(e: DataFrame, q: DataFrame) -> DataFrame:
    """The margin-mining core over a quantized candidate frame ``e``
    (vec_id, label, v) and a query frame ``q`` (qid, q_label, qvec) —
    shared with tools/stress_check.py's ``margin_mining`` stage (which
    keeps the query side FIXED while the candidate corpus multiplies,
    the decontamination asymmetry) so the stress row always measures
    the shipping shape."""
    pairs = e.join(
        F.broadcast(q), F.col("label") != F.col("q_label")
    ).select(
        "qid",
        "q_label",
        F.col("vec_id").alias("cid"),
        F.col("label").alias("c_label"),
        F.aggregate(
            F.zip_with("qvec", "v", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot"),
    )
    pos = pairs.filter(F.col("dot") > 0)
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), "cid")
    ranked = pos.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _MM_K + 1
    )
    # n_pos must count the FULL positive pool (the >= k+1 gate), not
    # the top-(k+1) slice — aggregate it separately on the same keys
    npos = pos.groupBy("qid").agg(F.count(F.lit(1)).alias("n_pos"))
    agg = (
        ranked.groupBy("qid", "q_label")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias(
                "best_vec_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("c_label"))).alias(
                "best_label"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("dot"))).alias(
                "dot_best"
            ),
            F.sum(
                F.when(
                    (F.col("rn") >= 2) & (F.col("rn") <= _MM_K + 1),
                    F.col("dot"),
                )
            ).alias("sum_runnerup"),
        )
        .join(npos, "qid")
        .filter(F.col("n_pos") >= _MM_K + 1)
    )
    return agg.select(
        "qid",
        "q_label",
        "best_vec_id",
        "best_label",
        F.col("dot_best").cast("long").alias("dot_best"),
        F.col("sum_runnerup").cast("long").alias("sum_runnerup"),
        round_div(
            F.lit(_MM_K) * F.col("dot_best"), F.col("sum_runnerup")
        ).alias("margin_ratio"),
        (
            F.lit(_MM_DEN) * _MM_K * F.col("dot_best")
            > F.lit(_MM_NUM) * F.col("sum_runnerup")
        ).alias("accepted"),
    ).orderBy("qid")


@register(
    "cross_label_margin_mining",
    _mm_oracle(),
    doc="margin-based nearest-neighbor mining (Artetxe & Schwenk "
    "2019, the LASER/CCMatrix bitext-mining criterion): a candidate "
    "pair is harvested not on raw similarity but when the best "
    "cross-label match beats ITS OWN runners-up by a ratio margin — "
    "best / mean(next-4) > 6/5 — which suppresses hub vectors that "
    "are 'close to everything' and would flood a plain top-k "
    "harvest. Query side = every 41st vector, candidates = every "
    "other label; dots ride the repo-wide round(x*1e6) int64 "
    "quantization so best, the runner-up sum, and the accept flag "
    "(5*4*best > 6*sum) are EXACT integers (positive-dot pool only, "
    "so the ratio semantics are well-defined); only the reported "
    "ratio rounds, through the shared decimal route. The fixture "
    "accepts some and rejects most queries at every checked scale "
    "factor — both classes pinned non-empty. 100 TB shape: the "
    "query side is bounded (broadcastable), the candidate pass is "
    "one map-side join + a query-PARTITIONED top-(k+1) window; past "
    "~10k queries pre-block candidates with ann_lsh/ann_ivf exactly "
    "as the esem/similarity docs prescribe.",
)
def cross_label_margin_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = quantize_embeddings(t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") % _MM_Q_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qvec"),
    )
    return margin_mine(e, q)
