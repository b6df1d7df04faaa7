"""Round-24-batch queries: PII propagation through near-dup clusters,
intra-document line dedup, and margin-based pair mining.

Each one is registered with a DuckDB value-hash oracle, checked by
tests/test_queries_oracle.py; tests/test_r24_staging.py keeps the
semantic replays.

The three close distinct holes:

- ``pii_cluster_contagion`` — PII propagation through near-dup
  clusters: the conservative release rule every privacy-aware corpus
  pipeline applies is that a near-duplicate of a PII-bearing document
  is itself treated as PII-bearing (the clean copy leaks the same
  facts). The registered pieces exist separately (text_pii_scan =
  per-doc flags, split_leakage_safe = content-group fingerprinting,
  dedup clusters); this is the missing COMPOSITION: cluster by the
  content-prefix fingerprint, flag per member, and propagate
  any-member-PII to the whole cluster with one cluster-partitioned
  window. The fixture plants a PII-bearing twin (same content prefix,
  appended email) for every 13th doc, so clean originals genuinely
  INHERIT the flag — the ``inherited_flag`` rows are the operator's
  whole point and are pinned non-empty.
- ``intra_doc_line_dedup`` — WITHIN-document repeated-line removal
  (the RefinedWeb/FineWeb intra-doc repetition step; distinct from
  c4_line_filters' keep/drop rules, exact_substring_trim's CROSS-doc
  cuts, and gopher_repetition_filters' flags — nothing registered
  REMOVES intra-doc repeats). Lines are the registry's fixed 10-token
  pseudo-line unit; the first occurrence of each distinct line
  survives in order, later repeats drop. The planted twin line (the
  doc's first line prepended again for every 11th doc) must vanish,
  and the md5 of the reassembled cleaned text is the byte-level
  witness (the html_extract discipline).
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

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)
from market_pulse_data_pipeline_spark.queries.text import _PII_EMAIL, _PII_ID

# --------------------------------------------------------------------
# pii_cluster_contagion
# --------------------------------------------------------------------

_PC_PLANT_MOD = 13  # every 13th doc spawns a PII-bearing near-dup twin
_PC_OFFSET = 70_000_000  # twin ids, clear of every other plant regime
_PC_PREFIX_W = 8  # cluster key = md5 of the first 8 tokens


def _pcc_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
    ),
    twins AS (
      SELECT doc_id + {_PC_OFFSET} AS doc_id,
             text || ' reach me at leak' || CAST(doc_id AS VARCHAR)
                  || '@mail.com' AS text
      FROM base
      WHERE doc_id % {_PC_PLANT_MOD} = 0
        AND len(string_split(text, ' ')) >= {_PC_PREFIX_W}
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    flagged AS (
      SELECT doc_id,
             md5(array_to_string(
               string_split(text, ' ')[1:{_PC_PREFIX_W}], ' '))
               AS cluster_key,
             (len(regexp_extract_all(text, '{_PII_EMAIL}')) > 0
              OR len(regexp_extract_all(text, '{_PII_ID}')) > 0)
               AS pii_flag
      FROM corpus
    )
    SELECT doc_id, cluster_key,
           CAST(COUNT(*) OVER (PARTITION BY cluster_key) AS BIGINT)
             AS cluster_size,
           pii_flag,
           MAX(pii_flag) OVER (PARTITION BY cluster_key)
             AS cluster_pii_flag,
           (MAX(pii_flag) OVER (PARTITION BY cluster_key)
            AND NOT pii_flag) AS inherited_flag
    FROM flagged
    ORDER BY doc_id
    """


def pii_cluster_contagion_from(base: DataFrame) -> DataFrame:
    """The full contagion pipeline over a (doc_id, text) frame —
    shared with tools/stress_check.py's ``pii_contagion`` stage so the
    stress row always measures the shipping shape."""
    toks = F.split("text", " ")
    twins = (
        base.filter(
            (F.col("doc_id") % _PC_PLANT_MOD == 0)
            & (F.size(toks) >= _PC_PREFIX_W)
        )
        .select(
            (F.col("doc_id") + _PC_OFFSET).alias("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(" reach me at leak"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.com"),
            ).alias("text"),
        )
    )
    corpus = base.unionByName(twins)
    flagged = corpus.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(F.split("text", " "), 1, _PC_PREFIX_W), " ")
        ).alias("cluster_key"),
        (
            (
                F.size(
                    F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0))
                )
                > 0
            )
            | (
                F.size(
                    F.regexp_extract_all("text", F.lit(_PII_ID), F.lit(0))
                )
                > 0
            )
        ).alias("pii_flag"),
    )
    w = Window.partitionBy("cluster_key")
    return (
        flagged.select(
            "doc_id",
            "cluster_key",
            F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
            "pii_flag",
            F.max("pii_flag").over(w).alias("cluster_pii_flag"),
            (F.max("pii_flag").over(w) & ~F.col("pii_flag")).alias(
                "inherited_flag"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "pii_cluster_contagion",
    _pcc_oracle(),
    doc="PII propagation through near-dup clusters — the conservative "
    "release rule: a near-duplicate of a PII-bearing document is "
    "treated as PII-bearing too (the 'clean' copy leaks the same "
    "facts, so redaction/suppression must cascade across the "
    "cluster). Clusters come from the content-prefix fingerprint "
    "(md5 of the first 8 tokens — split_leakage_safe's cheap "
    "near-dup stand-in; production swaps in MinHash cluster ids, "
    "same join shape); per-member flags are text_pii_scan's exact "
    "cross-engine regexes; propagation is MAX(flag) over one "
    "cluster-partitioned window riding a single exchange. The house "
    "planting idiom appends an email to a same-prefix twin of every "
    "13th doc, so clean originals genuinely INHERIT the flag — "
    "inherited_flag rows are the operator's point and are "
    "pytest-pinned non-empty. 100 TB shape: map-only flags + ONE "
    "cluster-keyed shuffle; cluster state is two booleans and a "
    "count, never member payloads.",
)
def pii_cluster_contagion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_cluster_contagion_from(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


# --------------------------------------------------------------------
# intra_doc_line_dedup
# --------------------------------------------------------------------

_IL_W = 10  # the registry's fixed 10-token pseudo-line unit
_IL_PLANT_MOD = 11  # every 11th doc gets its first line prepended again


def _ild_oracle() -> str:
    return f"""
    WITH prepped AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_IL_PLANT_MOD} = 0
                   AND len(string_split(text, ' ')) >= {_IL_W}
                  THEN array_to_string(
                         string_split(text, ' ')[1:{_IL_W}], ' ')
                       || ' ' || text
                  ELSE text END AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, i.i AS pos,
             array_to_string(
               string_split(text, ' ')
                 [(i.i * {_IL_W} + 1):((i.i + 1) * {_IL_W})], ' ')
               AS line
      FROM prepped,
           LATERAL (SELECT UNNEST(generate_series(
             0, CAST(ceil(len(string_split(text, ' '))
                          / {_IL_W}.0) AS BIGINT) - 1)) AS i) i
    ),
    firsts AS (
      SELECT doc_id, line, MIN(pos) AS keep_pos, COUNT(*) AS occ
      FROM lines GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(occ) AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(occ) - COUNT(*) AS BIGINT) AS n_dropped,
           md5(string_agg(line, ' ' ORDER BY keep_pos)) AS cleaned_md5
    FROM firsts
    GROUP BY doc_id
    ORDER BY doc_id
    """


def intra_doc_line_dedup_from(docs: DataFrame) -> DataFrame:
    """The full line-dedup pipeline over a (doc_id, text) frame —
    shared with tools/stress_check.py's ``intra_line_dedup`` stage so
    the stress row always measures the shipping shape."""
    toks0 = F.split("text", " ")
    first_line = F.array_join(F.slice(toks0, 1, _IL_W), " ")
    prepped = docs.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % _IL_PLANT_MOD == 0)
            & (F.size(toks0) >= _IL_W),
            F.concat(first_line, F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(_IL_W))).cast("int")
    lines = prepped.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * _IL_W + 1, _IL_W), " "
                ),
            )
        ).alias("pos", "line"),
    )
    firsts = lines.groupBy("doc_id", "line").agg(
        F.min("pos").alias("keep_pos"),
        F.count(F.lit(1)).alias("occ"),
    )
    return (
        firsts.groupBy("doc_id")
        .agg(
            F.sum("occ").cast("long").alias("n_lines"),
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            (F.sum("occ") - F.count(F.lit(1)))
            .cast("long")
            .alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("keep_pos", "line"))
                        ),
                        lambda x: x["line"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "intra_doc_line_dedup",
    _ild_oracle(),
    doc="WITHIN-document repeated-line removal — the intra-doc "
    "repetition step (RefinedWeb/FineWeb run it between extraction "
    "and corpus-level dedup; navigation chrome and boilerplate "
    "repeat INSIDE a page long before they repeat across pages). "
    "Distinct from every registered neighbor: c4_line_filters "
    "keeps/drops lines by content rules, exact_substring_trim cuts "
    "CROSS-doc duplicate spans, gopher_repetition_filters only "
    "FLAGS. Lines are the registry's fixed 10-token pseudo-line "
    "unit; the FIRST occurrence of each distinct line survives in "
    "order (min-pos per (doc, line), the dedup_survivor_policy rule "
    "applied intra-doc), and the md5 over the reassembled cleaned "
    "text witnesses the byte-exact result — the html_extract "
    "discipline. The planting idiom prepends every 11th doc's first "
    "line to itself (chunk-aligned by construction), so n_dropped "
    ">= 1 rows exist at every checked scale factor. 100 TB shape: "
    "map-only chunking, ONE (doc, line)-keyed aggregate, one "
    "doc-keyed fold; per-doc state is bounded by doc length.",
)
def intra_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return intra_doc_line_dedup_from(
        t(spark, sf_dir, "documents").select("doc_id", "text")
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
