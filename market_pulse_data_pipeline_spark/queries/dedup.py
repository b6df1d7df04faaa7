"""Deduplication operators over `documents` (north-star extension).

- exact dedup: hash-groupBy on content digest — one shuffle on the
  digest, scales linearly.
- n-gram Jaccard near-dup: shingle → inverted-index self-join → count
  intersections. The self-join is bucketed by shingle, which is how the
  candidate set stays bounded at scale (only docs sharing a shingle are
  compared); a deterministic doc sample keeps the oracle cheap at sf0.01.
- MinHash/LSH and SimHash live in functions.dedup (bench/scale path;
  signature hashing is engine-specific so those register rows-only).

- ``semdedup_prune`` — SemDeDup (Abbas et al., 2023, arXiv:2303.09540):
  k-means clusters bound the candidate space, then within-cluster
  pairwise cosine above a threshold marks semantic duplicates and the
  lowest vec_id survives. Complements the existing dedup family
  (exact / MinHash / SimHash / n-gram Jaccard / LSH-cosine): those all
  key on content overlap; SemDeDup keys on embedding-space semantic
  proximity with clusters, not hash bands, as the blocking structure.
- ``ngram_novelty_profile`` — per-document novel-n-gram fraction
  against everything earlier in ingestion order (the memorization /
  novelty signal from the dedup literature, e.g. Lee et al. 2022
  "Deduplicating Training Data Makes Language Models Better"): unlike
  ``cross_corpus_dedup_exact`` (whole-doc hash vs a fixed corpus) this
  scores every doc by how much of its n-gram content is first-seen.
- ``incremental_near_dup_lsh`` — batch-vs-corpus NEAR-dup detection
  (the daily-crawl production shape): asymmetric banded MinHash-LSH
  pairing only incoming x corpus, with the corpus band table as
  compute-once store-forever state. Complements
  ``cross_corpus_dedup_exact`` (exact incremental) and the self-join
  LSH rows (full-corpus near-dup).
- ``winnowing_fingerprint_pairs`` — winnowing fingerprints (Schleimer,
  Wilkerson & Aiken, SIGMOD 2003; the MOSS plagiarism detector):
  min-of-window selection over k-gram hashes gives a fingerprint set
  with a GUARANTEE — any shared run of ≥ w+k-1 tokens shares a
  fingerprint — where MinHash only offers probability. Docs sharing
  ≥ T selected fingerprints pair as candidates; planted tail-extended
  copies witness the guarantee (a suffix edit only perturbs trailing
  windows).
- ``exact_substring_trim`` — the CUT step of exact-substring dedup
  (Lee et al. 2022, "Deduplicating Training Data Makes Language
  Models Better"): where the registered ``exact_substring_spans``
  only REPORTS cross-document duplicated token ranges, this removes
  them — every 16-token window appearing verbatim in ≥ 2 documents is
  cut from every document EXCEPT the first occurrence (min doc_id
  owner), and each document is reassembled from its surviving tokens.
- ``paragraph_simhash_near_dups`` — fuzzy boilerplate detection at
  PARAGRAPH granularity: where ``sentence_dedup_profile`` and
  ``boilerplate_sentence_removal`` match pseudo-sentences EXACTLY
  (byte-equal digests), this SimHashes every 30-token
  pseudo-paragraph and pairs paragraphs within Hamming ≤ 3 — catching
  the near-identical site furniture (dates, counters, one-token
  edits) exact digests miss. Same portable-bit machinery and
  pigeonhole chunk join as the registered doc-level
  ``simhash_portable`` (Manku et al., WWW 2007).
- ``lsh_recall_curve`` — measured recall calibration for the banded
  MinHash-LSH family: bucket the exhaustive shingle-sharing pair set
  by exact Jaccard decile and report, per bucket, how many pairs the
  banded candidate generation captured. The observability number that
  tells you whether (perms, bands) fit a corpus before you commit a
  100 TB dedup run to them.
- ``containment_excerpt_dups`` — one-sided set containment
  (Broder 1997, "On the resemblance and containment of documents"):
  |A∩B| / |A| over 5-gram shingle sets, flagging EXCERPTS — a short
  doc fully contained in a long one has containment ~1.0 but Jaccard
  well under every near-dup threshold, so the registered symmetric
  family (minhash/simhash/ngram-jaccard) structurally cannot see it.
  Planted excerpt twins (the first ~40% of every 23rd long doc)
  witness exactly that gap: flagged here, invisible to J >= 0.8.
- ``softdedup_commonness_reweight`` — SoftDeDup (He et al. 2024,
  "SoftDedup: an Efficient Data Reweighting Method for Speeding Up
  Language Model Pre-training"): instead of REMOVING near-duplicates,
  keep every document and DOWN-WEIGHT it by its "commonness" — how
  often its n-gram content recurs across the corpus. Commonness here
  is the mean corpus document-frequency of the doc's distinct word
  4-gram shingles; the per-doc sampling weight is its reciprocal,
  computed directly from the two exact integers (n_sh / sum_df)
  through the shared decimal-quotient route so no double-rounding
  boundary exists. The registered dedup family (exact / Jaccard /
  MinHash / SimHash / containment) all DROP rows; this is the
  loss-reweighting alternative a training pipeline uses when it
  cannot afford to lose coverage.
- ``url_canonicalize_dedup`` — the CommonCrawl/FineWeb FIRST dedup
  stage, which runs before any content hashing: URL canonicalization
  (case-fold scheme+host, strip fragments, strip tracking-only query
  strings, strip default ports, strip trailing slashes) followed by
  an exact group-by on the canonical form with a deterministic
  survivor. Five deterministic per-doc URL variants (doc_id-derived,
  the house planting idiom) witness each rule: four spellings of the
  same resource collapse to one canonical group, the fifth stays
  distinct.
- ``semdedup_scaled_prune`` — SemDeDup with **k ∝ corpus size** (k = ceil(N / 50), cluster
  POPULATION pinned instead of cluster COUNT), which is the published
  algorithm's actual 100 TB posture — the registered
  ``semdedup_prune`` keeps k at a constant 10, which is faithful to
  the paper's small-scale setup but lets per-cluster populations (and
  the within-cluster quadratic) grow with the corpus. Here both
  engines derive k from the SAME count — the Spark side from a
  bounded 1-row action, the oracle from a scalar subquery in the
  shared unrolled-Lloyd generator's init LIMIT — so the value hash
  covers the scaling rule itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.clustering import (
    SNAP_SCALE,
    kmeans_oracle_sql,
    kmeans_snapped_fit,
    within_cluster_pair_dots,
)
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)

_JACCARD_THRESHOLD = 0.02
_SAMPLE_MOD = 7  # deterministic doc sample: doc_id % 7 == 0
_MAX_SHINGLE_DF = 20  # stop-phrase cap: shingles in > N docs leave the index


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    bench=True,
    doc="exact dedup via content-hash groupBy (keep lowest doc_id)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.encode("text", "utf-8")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc, built with JVM-side
    collection functions (transform over a sequence of start offsets)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= n
    )
    shingle_expr = F.transform(
        F.sequence(F.lit(0), F.size("ws") - n),
        lambda i: F.concat_ws(
            " ", F.col("ws")[i], F.col("ws")[i + 1], F.col("ws")[i + 2]
        ),
    )
    return toks.select("doc_id", F.explode(shingle_expr).alias("sh")).distinct()


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float, max_df: int = 20
) -> DataFrame:
    """(doc_a, doc_b, intersection, jaccard) for every doc pair sharing a
    3-word shingle with Jaccard ≥ threshold — the exact (non-approximate)
    near-dup pair builder. The inverted-index self-join is bucketed by
    shingle; at 100 TB the approximate MinHash-LSH path replaces this.

    ``max_df`` drops shingles appearing in more than that many documents
    BEFORE the self-join (standard stop-phrase removal): a shingle shared
    by k docs emits k² candidate rows, so one hot stop-phrase is a
    quadratic scale-killer. Jaccard is computed over the df-capped
    shingle universe (sizes and intersections consistently), keeping the
    operator exactly oracle-expressible. See SCALING.md."""
    # materialize the shingle set ONCE: four consumers (the hot-shingle
    # df aggregate, the per-doc sizes, and both sides of the candidate
    # self-join) otherwise each re-run the scan -> split -> shingle
    # pipeline (8 document scans in the audited plan before round 12).
    # The later consumers redo only the cheap broadcast anti-join over
    # the materialized rows.
    sh = _shingles(docs).localCheckpoint()
    # hot shingles are few by definition → broadcast the anti-join side
    hot = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("sh")
    )
    sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("intersection") * F.lit(1.0) / (
        F.col("sa.n") + F.col("sb.n") - F.col("intersection")
    )
    return (
        pairs.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "intersection",
            round_div(
                F.col("intersection") * F.lit(1.0),
                F.col("sa.n") + F.col("sb.n") - F.col("intersection"),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % {_SAMPLE_MOD} = 0
    ), sh0 AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(range(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM docs WHERE len(ws) >= 3
    ), sh AS (
      SELECT * FROM sh0 WHERE sh NOT IN (
        SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) > {_MAX_SHINGLE_DF})
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, intersection,
           {sql_round_div('intersection * 1.0',
                          'sa.n + sb.n - intersection', 6)} AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE intersection * 1.0 / (sa.n + sb.n - intersection) >= {_JACCARD_THRESHOLD}
    """,
    doc="n-gram Jaccard near-dup: 3-word shingles, df-capped inverted-"
    "index self-join (stop-phrase shingles with df > 20 dropped on both "
    "sides — the k² hot-shingle guard), |A∩B| / |A∪B| ≥ threshold; "
    "deterministic doc sample",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _SAMPLE_MOD == 0
    )
    return ngram_jaccard_pairs(docs, _JACCARD_THRESHOLD, _MAX_SHINGLE_DF)


_SPAN_W = 16  # exact-substring window (tokens)


@register(
    "exact_substring_spans",
    f"""
    WITH tokd AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, u.i,
             md5(array_to_string(
               list_slice(toks, u.i + 1, u.i + {_SPAN_W}), ' ')) AS h
      FROM tokd, UNNEST(range(len(toks) - {_SPAN_W - 1})) AS u(i)
      WHERE len(toks) >= {_SPAN_W}
    ),
    dup AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT s.doc_id, s.i FROM sh s JOIN dup USING (h)),
    isl AS (
      SELECT doc_id, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM hits
    )
    SELECT doc_id, MIN(i) AS start_tok,
           MAX(i) + {_SPAN_W - 1} AS end_tok,
           COUNT(*) AS n_shingles
    FROM isl GROUP BY doc_id, grp
    """,
    doc=f"exact-substring duplicate spans: every maximal token range "
    f"covered by {_SPAN_W}-token shingles that appear verbatim in >= 2 "
    "documents — the cut-list an exact-substring dedup pass removes "
    "from a training corpus. Shape: shingle+md5 (map-only, the hash "
    "caps shuffle width at 32 bytes/shingle), ONE groupBy(h) with a "
    "distinct-doc HAVING — duplicated spans are found without ever "
    "forming document PAIRS, so cost is linear in total shingles even "
    "when a boilerplate shingle occurs in thousands of docs; span "
    "merge is a per-doc gaps-and-islands window.",
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    docs = t(spark, sf_dir, "documents")
    tokd = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    ).filter(F.size("toks") >= _SPAN_W)
    sh = tokd.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - _SPAN_W),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("toks", i + 1, _SPAN_W))
                ),
            )
        ).alias("i", "h"),
    )
    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = sh.join(dup, "h").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    isl = hits.withColumn("grp", F.col("i") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("i").alias("start_tok"),
            (F.max("i") + F.lit(_SPAN_W - 1)).alias("end_tok"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .drop("grp")
    )


@register(
    "dedup_survivor_policy",
    """
    SELECT text_hash, keep_doc_id, n_copies FROM (
      SELECT md5(text) AS text_hash, doc_id AS keep_doc_id,
             COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
             ROW_NUMBER() OVER (
               PARTITION BY md5(text)
               ORDER BY n_chars DESC,
                        CASE lang WHEN 'en' THEN 0 ELSE 1 END,
                        doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    doc="dedup survivor SELECTION POLICY: where dedup_exact keeps "
    "min(doc_id), real pipelines keep the BEST copy per duplicate "
    "group — here longest text first, then preferred language, then "
    "id as the deterministic tiebreak. One window per content-hash "
    "partition (content hashes are uniform, zero skew); the policy is "
    "an ORDER BY expression, so swapping in a quality score column "
    "changes one line. Returns one survivor row per distinct content.",
)
def dedup_survivor_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    docs = t(spark, sf_dir, "documents")
    hashed = docs.select(
        F.md5(F.encode("text", "utf-8")).alias("text_hash"),
        "doc_id",
        "n_chars",
        "lang",
    )
    w = Window.partitionBy("text_hash")
    w_rank = w.orderBy(
        F.col("n_chars").desc(),
        F.when(F.col("lang") == "en", 0).otherwise(1),
        "doc_id",
    )
    return (
        hashed.select(
            "text_hash",
            F.col("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).over(w).alias("n_copies"),
            F.row_number().over(w_rank).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("text_hash", "keep_doc_id", "n_copies")
    )


_PF_T = 0.4  # prefix-filter Jaccard threshold


@register(
    "dedup_prefix_filter_join",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(range(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM docs WHERE len(ws) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, intersection,
           {sql_round_div('intersection * 1.0',
                          'sa.n + sb.n - intersection', 6)} AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE intersection * 1.0 / (sa.n + sb.n - intersection) >= {_PF_T}
    """,
    doc="prefix-filtered exact similarity join (SSJoin/all-pairs "
    f"prefix principle): for Jaccard >= {_PF_T}, rank each doc's "
    "shingles by a global (df, shingle) order and index only the "
    "first |S| - ceil(t|S|) + 1 — any qualifying pair must collide "
    "inside both prefixes, so the self-join touches the RAREST "
    "shingles only and hot boilerplate never fans out. Candidates "
    "are then verified with exact intersection counts. THE ORACLE IS "
    "THE UNOPTIMIZED BRUTE-FORCE JOIN over the full inverted index — "
    "the hash match is a machine-checked completeness proof that the "
    "prefix filter loses no pair. Complements the df-capped "
    "dedup_ngram_jaccard (which trades recall for a hard fan-out cap) "
    "and MinHash-LSH (probabilistic): this path is exact AND "
    "skew-proof, the right tool when the threshold is high. Ordering "
    "contract (measured in SCALING.md): run AFTER exact dedup — "
    "byte-identical docs share their whole prefix, which no "
    "similarity filter can bound.",
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    docs = t(spark, sf_dir, "documents")
    # five consumers (sizes, df, rank, verify x2) — materialize once
    sh = _shingles(docs, 3).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(df_counts, "sh")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "sh")
            ),
        )
        .join(sizes, "doc_id")
    )
    # prefix length |S| - ceil(t|S|) + 1, per doc
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(_PF_T) * F.col("n")) + 1
    ).select("doc_id", "sh")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verify candidates with exact intersection counts (candidate set is
    # collision-bounded, so these joins are small)
    inter = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.sh") == F.col("sb.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    jac = round_div(
        F.col("intersection") * F.lit(1.0),
        F.col("sa.n") + F.col("sb.n") - F.col("intersection"),
        6,
    )
    raw_j = (F.col("intersection") * 1.0) / (
        F.col("sa.n") + F.col("sb.n") - F.col("intersection")
    )
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(raw_j >= _PF_T)
        .select("doc_a", "doc_b", "intersection", jac.alias("jaccard"))
    )


# --------------------------------------------------------------------
# semdedup_prune
# --------------------------------------------------------------------

_SD_K = 10  # k-means clusters (the SemDeDup blocking structure)
_SD_ITERS = 3
_SD_DIM = 64
# planted-copy id offset; 1e9 clears any realistic fixture id (sf0.1
# max vec_id is 1999) and tests/test_dedup_queries.py asserts
# max(id) < offset so id growth can't silently alias a plant
_SD_PLANT_OFFSET = 1_000_000_000
# cos >= 0.95 as the exact-integer contract 400*dot^2 >= 361*|a|^2*|b|^2
# (19/20 squared), valid with dot >= 0; every quantity is int64-exact
# after round(x * SNAP_SCALE) quantization, so the comparison is
# bit-identical across engines (HUGEINT in DuckDB, DECIMAL(38,0) in
# Spark — max magnitude ~1.6e30 for 64-dim unit vectors, 31 digits).
_SD_NUM, _SD_DEN = 361, 400


def _semdedup_oracle() -> str:
    """DuckDB twin: the shared unrolled-Lloyd's CTE chain
    (functions/clustering.py::kmeans_oracle_sql) re-pointed at the
    planted-union source, then within-cluster pairwise exact-integer
    cosine and the drop-higher-id rule.

    Uses the generator's ``src`` parameter to train on the
    planted-union subquery instead of the raw table.
    """
    final = f"""
    , asg AS (SELECT vec_id, cid AS cluster FROM %(a)s),
    n2 AS (SELECT vec_id, SUM(qv * qv) AS n2 FROM pu GROUP BY vec_id),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a JOIN asg b
        ON a.cluster = b.cluster AND a.vec_id > b.vec_id
    ),
    dots AS (
      SELECT c.id_a, c.id_b, SUM(pa.qv * pb.qv) AS dot
      FROM cand c
      JOIN pu pa ON pa.vec_id = c.id_a
      JOIN pu pb ON pb.vec_id = c.id_b AND pb.pos = pa.pos
      GROUP BY c.id_a, c.id_b
    ),
    dup AS (
      SELECT DISTINCT d.id_a AS vec_id
      FROM dots d
      JOIN n2 x ON x.vec_id = d.id_a
      JOIN n2 y ON y.vec_id = d.id_b
      WHERE d.dot >= 0
        AND {_SD_DEN} * d.dot * d.dot >= {_SD_NUM} * x.n2 * y.n2
    )
    SELECT a.vec_id, CAST(a.cluster AS INTEGER) AS cluster,
           (dup.vec_id IS NOT NULL) AS dropped
    FROM asg a LEFT JOIN dup ON dup.vec_id = a.vec_id
    ORDER BY a.vec_id
    """
    src = f"""(
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_SD_PLANT_OFFSET},
             list_transform(embedding, x -> CAST(x * 1.001 AS FLOAT))
      FROM embeddings WHERE vec_id % 13 = 0
    ) both_src"""
    return kmeans_oracle_sql(
        final, k=_SD_K, iters=_SD_ITERS, dim=_SD_DIM, scale=SNAP_SCALE,
        src=src,
    )


@register(
    "semdedup_prune",
    _semdedup_oracle(),
    bench=True,  # headline shape: semantic dedup
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): integer-snapped "
    "k-means clusters as the blocking structure, then within-cluster "
    "pairwise cosine >= 0.95 (exact-integer contract "
    "400*dot^2 >= 361*|a|^2*|b|^2 on round(x*1e6) int64 vectors) marks "
    "semantic duplicates; the lowest vec_id in each >=-threshold pair "
    "survives. Planted 1.001-scaled copies (cosine ~1 by construction) "
    "make the witness non-trivial — the raw corpus's max pairwise "
    "cosine is 0.51. 100 TB shape: the quadratic is bounded per "
    "cluster (SemDeDup's design — k grows with the corpus so cluster "
    "sizes stay fixed), the fit keeps k*dim ints on the driver, and "
    "signatures/norms are JVM integer aggregates; one shuffle on "
    "cluster id for the pair join. Full value-hash oracle via the "
    "shared unrolled-Lloyd's CTE generator re-pointed at the planted "
    "union.",
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + _SD_PLANT_OFFSET).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 1.001).cast("float")
        ).alias("embedding"),
    )
    both = emb.unionByName(planted)
    # emit_n2: the final assignment AND the exact int64 squared
    # norm come out of ONE fused Arrow pass inside the fit — the n2
    # withColumn here used to run as an interpreted per-row JVM fold
    # on top of a separate ArrowEvalPython assignment (two passes'
    # worth of work in the qv materialization job).
    qv, _ = kmeans_snapped_fit(
        both, k=_SD_K, iters=_SD_ITERS, emit_n2=True
    )
    # qv feeds the within-cluster pair kernel AND the final left join;
    # un-materialized, each consumer re-runs the Arrow-batched centroid
    # assignment over the checkpointed quantized vectors. Materialize
    # the assignment once (the kmeans_snapped_fit src discipline —
    # localCheckpoint, so the blocks release on GC); footprint = one
    # (cluster, v, n2) row per vector, the same order as the src
    # checkpoint the fit already holds.
    qv = qv.localCheckpoint(eager=True)
    # within-cluster pairwise dots as ONE grouped int64 matmul kernel
    # instead of a cluster self-join that evaluated an interpreted
    # zip_with/aggregate fold per pair and shuffled qv twice. The kernel emits a guaranteed
    # SUPERSET of the threshold pairs (float64 screen, 1e-12 relative
    # slack); the exact decimal(38) contract below is unchanged, so
    # the dup set is bit-identical (kernel-equivalence pinned in
    # tests/test_clustering_kernels.py; oracle re-gated).
    pairs = within_cluster_pair_dots(qv, _SD_NUM, _SD_DEN)
    dec = "decimal(38,0)"
    d = F.col("dot").cast(dec)
    dup = (
        pairs.filter(
            (F.col("dot") >= 0)
            & (
                d * d * F.lit(_SD_DEN).cast(dec)
                >= F.col("na").cast(dec)
                * F.col("nb").cast(dec)
                * F.lit(_SD_NUM).cast(dec)
            )
        )
        .select(F.col("id_a").alias("dup_id"))
        .distinct()
    )
    return (
        qv.join(dup, qv.vec_id == dup.dup_id, "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.col("dup_id").isNotNull().alias("dropped"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------
# ngram_novelty_profile
# --------------------------------------------------------------------

_NV_N = 3  # shingle width (tokens)


@register(
    "ngram_novelty_profile",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(tk, s, s + {_NV_N - 1}), ' ') AS sh
      FROM toks, UNNEST(generate_series(1, n - {_NV_N - 1})) AS g(s)
      WHERE n >= {_NV_N}
    ),
    fo AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {sql_round_div(
        "SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)",
        "COUNT(*)",
    )} AS novelty
    FROM sh s JOIN fo f USING (sh)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc="per-document novelty: the fraction of a doc's distinct "
    "3-gram shingles whose FIRST occurrence (min doc_id = ingestion "
    "order) is the doc itself — the novel-n-gram signal the dedup "
    "literature uses to quantify cross-document repetition (Lee et "
    "al. 2022). Two shuffles at 100 TB, both on the shingle key: a "
    "min-aggregate to find each shingle's first doc, and the "
    "join-back — per-shingle state is one bigint, never a doc list. "
    "Docs shorter than the shingle width are excluded on both "
    "engines.",
)
def ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    with_tk = docs.select("doc_id", tk.alias("tk")).filter(
        F.size("tk") >= _NV_N
    )
    sh = (
        with_tk.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - (_NV_N - 1)),
                    lambda s: F.concat_ws(
                        " ", F.slice(F.col("tk"), s, _NV_N)
                    ),
                )
            ).alias("sh"),
        )
        .distinct()
    )
    fo = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    agg = (
        sh.join(fo, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        round_div(
            F.col("n_novel").cast("double"), F.col("n_shingles")
        ).alias("novelty"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# incremental_near_dup_lsh
# --------------------------------------------------------------------

_INC_PERM = 16
_INC_BANDS = 4
_INC_T = 0.5
# 1e9 clears any realistic fixture doc_id (sf0.1 max is 4999); a
# fixture guard test pins max(doc_id) < offset
_INC_PLANT_OFFSET = 1_000_000_000


def _inc_neardup_oracle() -> str:
    """Asymmetric twin of the proven minhash_lsh_portable oracle
    (queries/scale_paths.py::_portable_minhash_sql): identical md5
    60-bit shingle hashes and universal-hash permutations, but the
    banded join pairs INCOMING docs against CORPUS docs only."""
    from market_pulse_data_pipeline_spark.functions.dedup import (
        _MERSENNE,
        _perm_params,
    )

    params = _perm_params(_INC_PERM)
    rpb = _INC_PERM // _INC_BANDS
    mins = ",\n             ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MERSENNE}))"
        f" AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, side, {b} AS band, [{ms}] AS bh FROM sigs".format(
            b=b, ms=", ".join(f"m{b * rpb + r}" for r in range(rpb))
        )
        for b in range(_INC_BANDS)
    )
    eq_sum = " + ".join(f"(si.m{i} = sc.m{i})::INT" for i in range(_INC_PERM))
    return f"""
    WITH corpus AS (
      SELECT doc_id, text, 'c' AS side FROM documents WHERE doc_id % 2 = 0
    ), incoming AS (
      SELECT doc_id, text, 'i' AS side FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + {_INC_PLANT_OFFSET}, text || ' planted', 'i'
      FROM documents WHERE doc_id % 26 = 0
    ), alldocs AS (
      SELECT * FROM corpus UNION ALL SELECT * FROM incoming
    ), toks AS (
      SELECT doc_id, side, string_split(text, ' ') AS ws FROM alldocs
      WHERE len(string_split(text, ' ')) >= 3
    ), hs AS (
      SELECT doc_id, side,
             list_transform(range(1, len(ws) - 1),
               i -> ('0x' || substring(
                       md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
                       1, 15))::BIGINT % {_MERSENNE}) AS hs
      FROM toks
    ), sigs AS (
      SELECT doc_id, side,
             {mins}
      FROM hs
    ), bands AS (
      {band_rows}
    ), cand AS (
      SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corpus_id
      FROM bands i JOIN bands c
        ON i.band = c.band AND i.bh = c.bh
       AND i.side = 'i' AND c.side = 'c'
    )
    SELECT inc_id, corpus_id,
           ROUND(({eq_sum}) / {float(_INC_PERM)}, 6) AS est_jaccard
    FROM cand
    JOIN sigs si ON si.doc_id = inc_id AND si.side = 'i'
    JOIN sigs sc ON sc.doc_id = corpus_id AND sc.side = 'c'
    WHERE ({eq_sum}) / {float(_INC_PERM)} >= {_INC_T}
    ORDER BY inc_id, corpus_id
    """


@register(
    "incremental_near_dup_lsh",
    _inc_neardup_oracle(),
    bench=True,  # headline: the production daily-crawl dedup shape
    doc="incremental (batch-vs-corpus) NEAR-duplicate detection — the "
    "production daily-crawl shape the registry's self-join LSH rows "
    "don't witness: even-id docs stand in for the accumulated corpus, "
    "odd-id docs plus planted near-copies of corpus docs for the "
    "incoming batch, and the banded join pairs ONLY incoming x corpus "
    "(never corpus x corpus — history is not re-paired, never "
    "incoming x incoming — intra-batch dedup is a separate, cheaper "
    "pass). Same portable md5 60-bit MinHash as the driver-green "
    "minhash_lsh_portable (16 perms / 4 bands), so every signature, "
    "band bucket, candidate, and Jaccard estimate is bit-reproducible "
    "in DuckDB. 100 TB shape: the corpus band table is compute-once, "
    "store-forever state partitioned by (band, bucket); each day's "
    "batch builds its own (small) band table and joins in — candidate "
    "cost is per-bucket collisions, never |corpus| x |batch|.",
)
def incremental_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (
        _MERSENNE,
        fan_out,
        minhash_signatures_from_hashes,
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    incoming = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 26 == 0).select(
                (F.col("doc_id") + _INC_PLANT_OFFSET).alias("doc_id"),
                F.concat("text", F.lit(" planted")).alias("text"),
            )
        )
    )

    rpb = _INC_PERM // _INC_BANDS

    def sigs_of(side: DataFrame) -> DataFrame:
        # fan_out BEFORE the md5 shingle hashing (single-split
        # scan: each side otherwise computes its whole signature
        # table on one core); no-op on a many-split corpus. The
        # 16-permutation min fold runs through the shared Arrow int64
        # kernel — identical (a*h+b) % M arithmetic with the same
        # _perm_params(seed=42) stream, bit-equivalence pinned by
        # tests/test_scale_paths.py::
        # test_signature_kernel_matches_jvm_expression — instead of 16
        # interpreted array_min(transform(...)) folds per doc.
        toks = fan_out(side).select(
            "doc_id", F.split("text", " ").alias("ws")
        ).filter(F.size("ws") >= 3)
        shingle_arr = F.transform(
            F.sequence(F.lit(0), F.size("ws") - 3),
            lambda i: F.concat_ws(
                " ", F.col("ws")[i], F.col("ws")[i + 1], F.col("ws")[i + 2]
            ),
        )
        hashes = toks.select(
            "doc_id",
            F.transform(
                shingle_arr,
                lambda s: F.pmod(portable_hash60(s), F.lit(_MERSENNE)),
            ).alias("hs"),
        )
        return minhash_signatures_from_hashes(hashes, "hs", _INC_PERM)

    def bands_of(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(_INC_BANDS - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.slice(F.col("sig"), b * rpb + 1, rpb).alias("bh"),
                    ),
                )
            ).alias("e"),
        ).select("doc_id", "e.band", "e.bh")

    # cached for the band-explode + signature-compare double read, then
    # released after the eager checkpoint below (the registered
    # minhash_lsh_near_dups idiom) so full-registry sweeps don't pin
    # two corpus-sized signature tables per invocation
    sig_c = sigs_of(corpus).cache()
    sig_i = sigs_of(incoming).cache()
    cand = (
        bands_of(sig_i)
        .select(F.col("doc_id").alias("inc_id"), "band", "bh")
        .join(
            bands_of(sig_c).select(
                F.col("doc_id").alias("corpus_id"), "band", "bh"
            ),
            ["band", "bh"],
        )
        .select("inc_id", "corpus_id")
        .distinct()
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_i", "sig_c", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(float(_INC_PERM))
    out = (
        cand.join(
            sig_i.select(F.col("doc_id").alias("inc_id"), F.col("sig").alias("sig_i")),
            "inc_id",
        )
        .join(
            sig_c.select(
                F.col("doc_id").alias("corpus_id"), F.col("sig").alias("sig_c")
            ),
            "corpus_id",
        )
        # filter on the UNROUNDED estimate exactly like the oracle's
        # WHERE — rounding first would move the threshold boundary if
        # _INC_PERM ever stops being a power of two
        .filter(est >= _INC_T)
        .select(
            "inc_id", "corpus_id", F.round(est, 6).alias("est_jaccard")
        )
        .orderBy("inc_id", "corpus_id")
    )
    out = out.localCheckpoint(eager=True)
    sig_c.unpersist(blocking=False)
    sig_i.unpersist(blocking=False)
    return out


# --------------------------------------------------------------------
# winnowing_fingerprint_pairs
# --------------------------------------------------------------------

_WN_K = 4  # k-gram width (tokens)
_WN_W = 5  # winnowing window (hashes per window)
_WN_T = 3  # candidate gate: docs sharing >= T selected fingerprints
_WN_PLANT_OFFSET = 1_000_000_000


def _winnow_ctes() -> str:
    """The shared fingerprint CTE chain (planted corpus → k-gram
    hashes → min-of-window selection → candidate pairs) — the pair
    query and the cluster composition both build on it."""
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _MERSENNE,
    )

    h60 = (
        "(('0x' || substring(md5(array_to_string("
        f"list_slice(ws, i, i + {_WN_K - 1}), ' ')), 1, 15))::BIGINT"
        f" % {_MERSENNE})"
    )
    return f"""src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_WN_PLANT_OFFSET}, text || ' winnow planted tail'
      FROM documents WHERE doc_id % 31 = 0
    ),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM src
      WHERE len(string_split(text, ' ')) >= {_WN_K + _WN_W - 1}
    ),
    kg AS (
      SELECT doc_id,
             list_transform(range(1, len(ws) - {_WN_K - 1} + 1),
                            i -> {h60}) AS hs
      FROM toks
    ),
    fp AS (
      SELECT DISTINCT doc_id, UNNEST(
        list_transform(range(1, len(hs) - {_WN_W - 1} + 1),
                       j -> list_min(list_slice(hs, j, j + {_WN_W - 1})))
      ) AS fp
      FROM kg
    ),
    wpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id > b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_WN_T}
    )"""


def _winnow_oracle() -> str:
    return f"""
    WITH {_winnow_ctes()}
    SELECT doc_a, doc_b, n_shared FROM wpairs
    ORDER BY doc_a, doc_b
    """


@register(
    "winnowing_fingerprint_pairs",
    _winnow_oracle(),
    doc="winnowing document fingerprints (Schleimer, Wilkerson & Aiken, "
    "SIGMOD 2003 — the MOSS algorithm): hash every 4-token k-gram "
    "(portable 60-bit md5), slide a 5-hash window, select each "
    "window's minimum, and the distinct selected hashes are the doc's "
    "fingerprint set — any shared substring of at least w+k-1 tokens "
    "is GUARANTEED to share a fingerprint (the winnowing guarantee, "
    "which MinHash can only provide probabilistically). Docs sharing "
    ">= 3 fingerprints pair as plagiarism/near-dup candidates; "
    "planted tail-extended copies witness the contract (a suffix edit "
    "only perturbs the trailing windows). 100 TB shape: selection is "
    "JVM higher-order transforms per doc (map-only), the pair join is "
    "keyed on the fingerprint — density ~2/(w+1) of k-gram count, so "
    "the inverted index is a fraction of shingle-join size — and the "
    "gate aggregates per pair. All-integer arithmetic, bit-identical "
    "cross-engine.",
)
def winnowing_fingerprint_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _winnow_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared) winnowing candidate pairs over the
    planted corpus — shared by the pair query and the cluster
    composition below."""
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _MERSENNE,
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents")
    src = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 31 == 0).select(
            (F.col("doc_id") + _WN_PLANT_OFFSET).alias("doc_id"),
            F.concat("text", F.lit(" winnow planted tail")).alias("text"),
        )
    )
    toks = src.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).filter(F.size("ws") >= _WN_K + _WN_W - 1)
    kgram_hash = lambda i: F.pmod(  # noqa: E731
        portable_hash60(F.concat_ws(" ", F.slice(F.col("ws"), i, _WN_K))),
        F.lit(_MERSENNE),
    )
    kg = toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - (_WN_K - 1)), kgram_hash
        ).alias("hs"),
    )
    fp = (
        kg.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("hs") - (_WN_W - 1)),
                    lambda j: F.array_min(F.slice(F.col("hs"), j, _WN_W)),
                )
            ).alias("fp"),
        )
        .distinct()
        # materialize once: both self-join sides consume the
        # fingerprint set, and the lazy form re-ran the whole
        # scan -> k-gram -> window-min pipeline per side (8 document
        # scans in the audited winnowing_cluster_dedup plan)
        .localCheckpoint()
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") > F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WN_T)
    )


# --------------------------------------------------------------------
# winnowing_cluster_dedup
# --------------------------------------------------------------------


def _winnow_cluster_oracle() -> str:
    """Winnowing pairs composed into connected components — the same
    WITH RECURSIVE transitive-closure pattern proven by
    dedup_cluster_assignment (queries/scale_paths.py)."""
    return f"""
    WITH RECURSIVE {_winnow_ctes()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM wpairs
      UNION ALL
      SELECT doc_b, doc_a FROM wpairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
    ),
    comp AS (
      SELECT id, MIN(r) AS component FROM reach GROUP BY id
    ),
    csizes AS (
      SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
    )
    SELECT comp.id AS doc_id, comp.component AS cluster_id,
           csizes.cluster_size, comp.id = comp.component AS is_kept
    FROM comp JOIN csizes USING (component)
    ORDER BY doc_id
    """


@register(
    "winnowing_cluster_dedup",
    _winnow_cluster_oracle(),
    doc="winnowing-based cluster dedup: the MOSS "
    "fingerprint candidate pairs composed into connected components "
    "with min-id representatives — (doc, cluster, size, kept), the "
    "cluster-and-keep step of a fingerprint-guaranteed dedup pipeline. "
    "Reuses winnowing_fingerprint_pairs' pair machinery verbatim and "
    "the driver-green min-label-propagation operator "
    "(functions/graph.py::dedup_clusters, per-round lineage "
    "truncation); oracle is the DuckDB WITH RECURSIVE transitive "
    "closure proven by dedup_cluster_assignment. 100 TB shape: the "
    "edge set is candidate-bounded by the winnowing gate (never "
    "all-pairs), propagation shuffles only the frontier per round, "
    "and rounds are logarithmic in cluster diameter — near-dup "
    "clusters are shallow (planted tails give diameter 1).",
)
def winnowing_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.graph import (  # noqa: PLC0415
        dedup_clusters,
    )

    pairs = _winnow_pairs(spark, sf_dir)
    return dedup_clusters(pairs.select("doc_a", "doc_b")).orderBy("doc_id")


# --------------------------------------------------------------------
# exact_substring_trim
# --------------------------------------------------------------------

_TR_W = 16  # cut window (tokens) — matches exact_substring_spans
_TR_PLANT_MOD = 13  # every 13th doc gets the shared quote prepended
# exactly 16 tokens, so the planted run is ONE whole window and the
# original text's shingle grid shifts intact behind it
_TR_QUOTE = (
    "the quick brown fox jumps over the lazy dog while spark "
    "shuffles partitions across the cluster"
)
assert len(_TR_QUOTE.split()) == _TR_W


def _trim_oracle() -> str:
    return f"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_TR_PLANT_MOD} = 0
                  THEN '{_TR_QUOTE} ' || lower(text)
                  ELSE lower(text) END AS text
      FROM documents
    ),
    tokd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM src),
    sh AS (
      SELECT doc_id, u.i,
             md5(array_to_string(
               list_slice(toks, u.i + 1, u.i + {_TR_W}), ' ')) AS h
      FROM tokd, UNNEST(range(len(toks) - {_TR_W - 1})) AS u(i)
      WHERE len(toks) >= {_TR_W}
    ),
    own AS (
      SELECT h, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS owner
      FROM sh GROUP BY h
    ),
    cuts AS (
      SELECT DISTINCT s.doc_id, r.p
      FROM sh s JOIN own o USING (h), UNNEST(range(s.i, s.i + {_TR_W})) AS r(p)
      WHERE o.nd >= 2 AND s.doc_id <> o.owner
    ),
    tpos AS (
      SELECT doc_id, UNNEST(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS p
      FROM tokd
    ),
    kept AS (
      SELECT t.doc_id, t.p, t.tok
      FROM tpos t LEFT JOIN cuts c ON c.doc_id = t.doc_id AND c.p = t.p
      WHERE c.p IS NULL
    ),
    keptagg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY p)) AS clean_md5
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(k.clean_md5, md5('')) AS clean_md5
    FROM tokd t LEFT JOIN keptagg k USING (doc_id)
    ORDER BY t.doc_id
    """


@register(
    "exact_substring_trim",
    _trim_oracle(),
    bench=True,  # corpus-scale digest-keyed cut shape
    doc="exact-substring dedup as the CUT it exists for (Lee et al. "
    "2022): every 16-token window occurring verbatim in >= 2 docs is "
    "removed from every doc except the first occurrence (min doc_id "
    "owner keeps it), and each doc is reassembled from its surviving "
    "tokens — per doc: token count, removed count, md5 of the cleaned "
    "stream. Extends the registered exact_substring_spans (the "
    "DIAGNOSIS) into the action. A shared 16-token quote planted onto "
    "every 13th doc witnesses the contract: the owner keeps it "
    "(n_removed=0), every other planted doc loses exactly its 16 "
    "quote tokens, unplanted docs pass through byte-identical. "
    "100 TB shape: duplicated windows are found with ONE digest-keyed "
    "aggregate (never document pairs — cost linear in shingles even "
    "for 1000-doc boilerplate), cut positions fan out only from "
    "duplicated shingles (bounded by true duplication), and the "
    "reassembly is one doc-keyed aggregate. The md5 digest caps "
    "shuffle width at 32 bytes/shingle.",
)
def exact_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = t(spark, sf_dir, "documents")
    # fan_out BEFORE the per-window md5 projection (a higher-order
    # transform outside codegen): on a small-file fixture the scan is
    # 1-3 partitions — a single-split scan. No-op on a
    # real many-split corpus.
    src = fan_out(docs).select(
        "doc_id",
        F.when(
            F.col("doc_id") % _TR_PLANT_MOD == 0,
            F.concat(F.lit(_TR_QUOTE + " "), F.lower("text")),
        )
        .otherwise(F.lower("text"))
        .alias("text"),
    )
    tokd = src.select("doc_id", F.split("text", " ").alias("toks"))
    sh = tokd.filter(F.size("toks") >= _TR_W).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - _TR_W),
                lambda i: F.md5(
                    F.encode(
                        F.concat_ws(" ", F.slice("toks", i + 1, _TR_W)),
                        "utf-8",
                    )
                ),
            )
        ).alias("i", "h"),
    )
    # Ownership as ONE digest-partitioned window: the earlier form
    # materialized sh (checkpoint), aggregated per-h ownership, and
    # joined it back — an aggregate exchange plus a join that
    # re-shuffled the checkpointed rows (UnknownPartitioning after a
    # checkpoint defeats co-partitioning). min/max over the h window
    # answers both questions in the same single exchange the aggregate
    # needed anyway: a shingle is duplicated across >= 2 DISTINCT docs
    # iff min(doc_id) != max(doc_id), and the keeper is min(doc_id) —
    # exactly the former nd >= 2 filter + owner join (the old nd was
    # only ever compared against 2). The window streams sorted runs
    # and spills, so a 1000-doc boilerplate shingle costs disk, not
    # memory; sh now has ONE consumer, so the checkpoint is gone too.
    # A/B interleaved min-of-5 at sf0.1: 2.022 -> 1.850 s, rows
    # byte-identical; oracle re-gated sf0.01 + sf0.1.
    own_w = Window.partitionBy("h")
    # cut positions fan out ONLY from duplicated, non-owned shingles —
    # bounded by true duplication, never corpus size
    cuts = (
        sh.withColumn("owner", F.min("doc_id").over(own_w))
        .withColumn("mx", F.max("doc_id").over(own_w))
        .filter(
            (F.col("mx") != F.col("owner"))
            & (F.col("doc_id") != F.col("owner"))
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (_TR_W - 1))
            ).alias("p"),
        )
    )
    # reassembly as ONE doc-keyed pass: the former shape exploded
    # every token (posexplode), anti-joined the cut positions at TOKEN
    # granularity, and rebuilt each doc with a collect_list +
    # array_sort + interpreted transform — three exchanges carrying
    # token-level rows. Cut positions are instead folded to one array
    # per affected doc (bounded by true duplication), attached with a
    # doc-keyed left join, and the surviving stream is re-joined and
    # md5'd in an Arrow kernel — token bytes now cross an exchange only
    # inside per-doc arrays, once. hashlib md5 over the UTF-8 joined
    # stream is the same digest as F.md5(F.encode(...)); position
    # semantics (0-based split order) are unchanged, so the output is
    # byte-identical (oracle re-gated at sf0.01 + sf0.1).
    import hashlib  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    # collect_set replaces the former explode-side distinct + a list
    # fold: one doc-keyed exchange dedups AND folds the positions (the
    # kernel tests membership, so set order is irrelevant)
    percut = cuts.groupBy("doc_id").agg(
        F.collect_set("p").alias("cut_ps")
    )

    def _reassemble(pdfs):
        for pdf in pdfs:
            ids, ntok, nrem, digests = [], [], [], []
            for did, toks, cut_ps in zip(
                pdf["doc_id"], pdf["toks"], pdf["cut_ps"]
            ):
                cut = set() if cut_ps is None else set(cut_ps)
                kept = (
                    [tk for p, tk in enumerate(toks) if p not in cut]
                    if cut
                    else list(toks)
                )
                ids.append(did)
                ntok.append(len(toks))
                nrem.append(len(toks) - len(kept))
                digests.append(
                    hashlib.md5(" ".join(kept).encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_tokens": pd.Series(ntok, dtype="int64"),
                    "n_removed": pd.Series(nrem, dtype="int64"),
                    "clean_md5": pd.Series(digests, dtype="object"),
                }
            )

    return (
        tokd.join(percut, "doc_id", "left")
        .mapInPandas(
            _reassemble,
            "doc_id long, n_tokens long, n_removed long, clean_md5 string",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# paragraph_simhash_near_dups
# --------------------------------------------------------------------

_PH_W = 30  # tokens per pseudo-paragraph (sentence grid x3)
_PH_BITS = 60  # full portable-hash width: 60-bit signatures (the
# doc-level simhash_portable predates this; 60 bits cut the organic
# hamming<=3 collision rate of bag-similar text by ~2^28 and shrink
# every pigeonhole bucket from 2^8 to 2^15 values)
_PH_CHUNKS = 4  # 15-bit chunks: pigeonhole-complete for hamming <= 3
_PH_MAX_HAMMING = 3
_PH_PLANT_MOD = 101  # every 101st doc spawns promo-paragraph plants
_PH_P1_OFFSET = 10_000_000  # identical promo docs (pairwise hamming 0)
_PH_P2_OFFSET = 20_000_000  # one-token-mutated promo docs
# exactly 30 tokens: ONE whole pseudo-paragraph
_PH_PROMO = (
    "subscribe to our premium newsletter today for exclusive market "
    "insights and daily analysis delivered straight to your inbox "
    "every single morning with zero spam and free cancellation "
    "anytime guaranteed forever"
)
assert len(_PH_PROMO.split()) == _PH_W
_PH_PROMO_MUT = _PH_PROMO.replace("forever", "always")


def _ph_oracle() -> str:
    h60 = "('0x' || substring(md5('pp:' || t), 1, 15))::BIGINT"
    bit_terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> ((h >> {k}) & 1)*2 - 1)) > 0 "
        f"THEN (1::BIGINT << {k}) ELSE 0 END"
        for k in range(_PH_BITS)
    )
    cw = _PH_BITS // _PH_CHUNKS
    return f"""
    WITH alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_PH_P1_OFFSET}, '{_PH_PROMO}'
      FROM documents WHERE doc_id % {_PH_PLANT_MOD} = 0
      UNION ALL
      SELECT doc_id + {_PH_P2_OFFSET}, '{_PH_PROMO_MUT}'
      FROM documents WHERE doc_id % {_PH_PLANT_MOD} = 0
    ),
    paras AS (
      SELECT doc_id,
             CAST((g.start - 1) / {_PH_W} AS BIGINT) AS para_id,
             array_to_string(list_slice(ws, g.start,
                                        g.start + {_PH_W} - 1), ' ') AS ptext
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM alldocs),
           UNNEST(generate_series(1, len(ws), {_PH_W})) AS g(start)
    ),
    hsrc AS (
      SELECT doc_id, para_id,
             list_transform(string_split(ptext, ' '), t -> {h60}) AS hs
      FROM paras
    ),
    sig AS (
      SELECT doc_id, para_id, doc_id * 1000 + para_id AS pkey,
             CAST({bit_terms} AS BIGINT) AS sim
      FROM hsrc
    ),
    chunks AS (
      SELECT doc_id, para_id, pkey, sim, c,
             (sim >> ({cw} * c)) & {(1 << cw) - 1} AS cv
      FROM sig, UNNEST([{", ".join(map(str, range(_PH_CHUNKS)))}]) AS u(c)
    ),
    cand AS (
      SELECT DISTINCT
             a.doc_id AS doc_a, a.para_id AS para_a, a.sim AS sim_a,
             b.doc_id AS doc_b, b.para_id AS para_b, b.sim AS sim_b
      FROM chunks a JOIN chunks b
        ON a.c = b.c AND a.cv = b.cv AND a.pkey < b.pkey
    )
    SELECT doc_a, para_a, doc_b, para_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {_PH_MAX_HAMMING}
    ORDER BY doc_a, para_a, doc_b, para_b
    """


@register(
    "paragraph_simhash_near_dups",
    _ph_oracle(),
    bench=True,  # pigeonhole banded-join shape
    doc="paragraph-granular SimHash near-dup detection (Manku et al., "
    "WWW 2007 — the fuzzy complement of the registry's EXACT "
    "pseudo-sentence digests): every 30-token pseudo-paragraph gets a "
    "60-bit portable SimHash (bit k = sign of the per-bit vote over "
    "md5 token hashes, tie rule vote>0), candidates come from the "
    "pigeonhole chunk join (4 x 15-bit chunks — a pair within Hamming "
    "d <= 3 must agree on >= 1 of d+1 chunks, so candidate generation "
    "is COMPLETE, not probabilistic), and the exact Hamming filter "
    "keeps pairs <= 3. Catches near-identical site furniture (date "
    "stamps, counters, one-token edits) that byte-equal digests miss. "
    "Planted witnesses: identical promo-paragraph docs (pairwise "
    "hamming 0) and a one-token-mutated promo set. 100 TB shape: "
    "signatures are map-only array folds per paragraph; the ONLY "
    "shuffle is the bounded (chunk, value) join — never a shingle "
    "inverted index, never all-pairs — and the 15-bit chunk domain "
    "(32k buckets per chunk) keeps bucket occupancy, hence candidate "
    "fan-out, low even on bag-similar corpora (a 32-bit trial form "
    "measured ~90x more organic pairs on this fixture). The md5 bit "
    "source exists so the oracle bit-reproduces every value, the "
    "simhash_portable compromise.",
)
def paragraph_simhash_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    seeds = docs.filter(F.col("doc_id") % _PH_PLANT_MOD == 0)
    # fan_out BEFORE the signature kernel: on a small-file fixture the
    # union arrives in 1-3 scan partitions and the per-token md5 work
    # would land on a single Python worker. No-op on a real many-split
    # corpus.
    alldocs = fan_out(
        docs.unionByName(
            seeds.select(
                (F.col("doc_id") + _PH_P1_OFFSET).alias("doc_id"),
                F.lit(_PH_PROMO).alias("text"),
            )
        ).unionByName(
            seeds.select(
                (F.col("doc_id") + _PH_P2_OFFSET).alias("doc_id"),
                F.lit(_PH_PROMO_MUT).alias("text"),
            )
        )
    )
    # signature kernel: paragraph splitting, the per-token
    # portable 60-bit md5 hash, and all 60 per-bit votes run in ONE
    # Arrow-batched numpy pass. The former expression pipeline — a
    # higher-order ``transform`` computing md5 per token plus SIXTY
    # interpreted ``aggregate`` folds over the hash array per paragraph
    # — was the query's dominant cost (the interpreted-lambda class,
    # here at its highest fan-in). Arithmetic
    # is bit-identical: hashlib md5 over the same "pp:"-salted UTF-8
    # token == F.md5(cast binary), first 15 hex digits as int64 ==
    # conv(...,16,10), numpy int64 shift/&1 votes == the JVM fold, tie
    # rule vote > 0 unchanged (pinned against the expression path in
    # tests/test_dedup_queries.py::test_ph_signature_kernel_matches_jvm).
    import hashlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    _bitpos = np.arange(_PH_BITS, dtype=np.int64)

    def _sig_rows(pdfs):
        for pdf in pdfs:
            out_doc, out_para, out_sim = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                toks = txt.split(" ")
                for pi in range(0, (len(toks) + _PH_W - 1) // _PH_W):
                    chunk = toks[pi * _PH_W : (pi + 1) * _PH_W]
                    hs = np.fromiter(
                        (
                            int(
                                hashlib.md5(
                                    ("pp:" + w).encode()
                                ).hexdigest()[:15],
                                16,
                            )
                            for w in chunk
                        ),
                        dtype=np.int64,
                        count=len(chunk),
                    )
                    bits = (hs[:, None] >> _bitpos) & 1
                    votes = 2 * bits.sum(axis=0) - len(chunk)
                    sim = int(((votes > 0).astype(np.int64) << _bitpos).sum())
                    out_doc.append(did)
                    out_para.append(pi)
                    out_sim.append(sim)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "para_id": pd.Series(out_para, dtype="int64"),
                    "sim": pd.Series(out_sim, dtype="int64"),
                }
            )

    # localCheckpoint, not cache: both sides of the
    # pigeonhole self-join consume the signature table; checkpointed
    # blocks release when the DataFrame is garbage-collected instead of
    # pinning executor storage for the session lifetime. Lineage
    # tradeoff: see the basket_lift_pairs note — an
    # executor loss after materialization fails the query instead of
    # recomputing; prefer reliable checkpointing where that matters.
    sig = (
        alldocs.mapInPandas(
            _sig_rows, "doc_id long, para_id long, sim long"
        )
        .select(
            "doc_id",
            "para_id",
            (F.col("doc_id") * 1000 + F.col("para_id")).alias("pkey"),
            "sim",
        )
        .localCheckpoint(eager=True)
    )
    cw = _PH_BITS // _PH_CHUNKS
    chunks = sig.select(
        "doc_id",
        "para_id",
        "pkey",
        "sim",
        F.explode(F.sequence(F.lit(0), F.lit(_PH_CHUNKS - 1))).alias("c"),
    ).withColumn(
        "cv", F.expr(f"shiftright(sim, c * {cw}) & {(1 << cw) - 1}")
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.pkey") < F.col("b.pkey")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.para_id").alias("para_a"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.para_id").alias("para_b"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.filter(ham <= _PH_MAX_HAMMING)
        .select(
            "doc_a",
            "para_a",
            "doc_b",
            "para_b",
            ham.cast("long").alias("hamming"),
        )
        .orderBy("doc_a", "para_a", "doc_b", "para_b")
    )


# --------------------------------------------------------------------
# lsh_recall_curve
# --------------------------------------------------------------------

_RC_PERM = 16  # same portable pipeline parameters as minhash_lsh_portable
_RC_BANDS = 4
_RC_ROWS = _RC_PERM // _RC_BANDS  # s-curve midpoint (1/4)^(1/4) ~ 0.71
_RC_PLANT_MOD = 17  # every 17th doc seeds the three planted pair shapes
_RC_V_OFFSET = 3_000_000_000  # verbatim copy (J = 1)
_RC_P8_OFFSET = 3_010_000_000  # 80%-prefix copy (J ~ 0.75)
_RC_P5_OFFSET = 3_020_000_000  # 50%-prefix copy (J ~ 0.45)


def _rc_cut_sql(num: int, den: int) -> str:
    return (
        "array_to_string(ws[1 : greatest(3, (len(ws) * "
        f"{num}) // {den})], ' ')"
    )


def _recall_oracle() -> str:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _perm_params,
    )

    params = _perm_params(_RC_PERM)
    mins = ",\n             ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {_MERSENNE}))"
        f" AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, [{ms}] AS bh FROM sigs".format(
            b=b,
            ms=", ".join(
                f"m{b * _RC_ROWS + r}" for r in range(_RC_ROWS)
            ),
        )
        for b in range(_RC_BANDS)
    )
    return f"""
    WITH seeds AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % {_RC_PLANT_MOD} = 0
    ),
    alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_RC_V_OFFSET}, array_to_string(ws, ' ') FROM seeds
      UNION ALL
      SELECT doc_id + {_RC_P8_OFFSET}, {_rc_cut_sql(4, 5)} FROM seeds
      UNION ALL
      SELECT doc_id + {_RC_P5_OFFSET}, {_rc_cut_sql(1, 2)} FROM seeds
    ),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM alldocs
      WHERE len(string_split(text, ' ')) >= 3
    ),
    hsets AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ('0x' || substring(md5(ws[i] || ' ' || ws[i+1]
                     || ' ' || ws[i+2]), 1, 15))::BIGINT
                    % {_MERSENNE})) AS hs
      FROM toks
    ),
    inv AS (SELECT doc_id, UNNEST(hs) AS h FROM hsets),
    truth AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    jacc AS (
      SELECT t.doc_a, t.doc_b,
             len(list_intersect(x.hs, y.hs)) AS i,
             len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS u
      FROM truth t
      JOIN hsets x ON x.doc_id = t.doc_a
      JOIN hsets y ON y.doc_id = t.doc_b
    ),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM hsets
    ),
    bands AS (
      {band_rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT LEAST((10 * j.i) // j.u, 9) AS j_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_candidates,
           {sql_round_div(
               'SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0',
               'COUNT(*)')} AS recall
    FROM jacc j
    LEFT JOIN cand c ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    GROUP BY 1
    ORDER BY j_bucket
    """


@register(
    "lsh_recall_curve",
    _recall_oracle(),
    doc="measured recall calibration of the banded MinHash-LSH "
    "pipeline (16 perms x 4 bands, the registered "
    "minhash_lsh_portable parameters): the exhaustive "
    "shingle-sharing pair set (inverted-index join — bucketed, never "
    "all-pairs) is bucketed by exact-Jaccard decile "
    "(LEAST((10*∩) // ∪, 9) — pure integer arithmetic), and each "
    "bucket reports how many of its pairs the banded candidate join "
    "captured. THE pre-flight number for a dedup run: the measured "
    "s-curve tells you whether (perms, bands) hit your target "
    "threshold before you commit a 100 TB pass to them. Planted pair "
    "shapes make the high-J tail non-trivial: verbatim copies "
    "(J = 1), 80%-prefix copies (J ~ 0.75), 50%-prefix copies "
    "(J ~ 0.45) off every 17th doc. The recall column is a display "
    "ratio (exact integer counts are the compared evidence; the "
    "round(4) quotient matches DuckDB's dyadic rounding). 100 TB "
    "shape: one shingle-keyed inverted-index shuffle for truth, one "
    "(band, slice)-keyed shuffle for candidates, one bounded "
    "10-bucket aggregate; at production scale you run it on a "
    "SAMPLED corpus slice — the curve is a property of the "
    "(perms, bands) choice, not of corpus size.",
)
def lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _perm_params,
        fan_out,
        portable_hash60,
    )
    from market_pulse_data_pipeline_spark.queries.common import (  # noqa: PLC0415
        round_div,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    seeds = docs.filter(F.col("doc_id") % _RC_PLANT_MOD == 0).select(
        "doc_id", F.split("text", " ").alias("ws")
    )

    def cut(num: int, den: int):
        return F.concat_ws(
            " ",
            F.slice(
                F.col("ws"),
                1,
                F.greatest(
                    F.lit(3),
                    F.floor((F.size("ws") * num) / den).cast("int"),
                ).cast("int"),
            ),
        )

    alldocs = (
        docs.unionByName(
            seeds.select(
                (F.col("doc_id") + _RC_V_OFFSET).alias("doc_id"),
                F.concat_ws(" ", F.col("ws")).alias("text"),
            )
        )
        .unionByName(
            seeds.select(
                (F.col("doc_id") + _RC_P8_OFFSET).alias("doc_id"),
                cut(4, 5).alias("text"),
            )
        )
        .unionByName(
            seeds.select(
                (F.col("doc_id") + _RC_P5_OFFSET).alias("doc_id"),
                cut(1, 2).alias("text"),
            )
        )
    )
    toks = fan_out(alldocs).select(
        "doc_id", F.split("text", " ").alias("ws")
    ).filter(F.size("ws") >= 3)
    shingle_arr = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 3),
        lambda i: F.concat_ws(
            " ", F.col("ws")[i], F.col("ws")[i + 1], F.col("ws")[i + 2]
        ),
    )
    hsets = toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                shingle_arr,
                lambda s: F.pmod(portable_hash60(s), F.lit(_MERSENNE)),
            )
        ).alias("hs"),
    ).cache()
    inv = hsets.select("doc_id", F.explode("hs").alias("h"))
    ia, ib = inv.alias("a"), inv.alias("b")
    truth = (
        ia.join(
            ib,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    xa = hsets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    xb = hsets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    jacc = (
        truth.join(xa, "doc_a")
        .join(xb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("i"),
            (F.size("ha") + F.size("hb") - inter).alias("u"),
        )
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    "hs",
                    lambda h: F.pmod(
                        F.lit(a) * h + F.lit(b), F.lit(_MERSENNE)
                    ),
                )
            )
            for (a, b) in _perm_params(_RC_PERM)
        ]
    )
    sigs = hsets.select("doc_id", sig.alias("sig"))
    band_entries = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_RC_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.slice(
                        F.col("sig"), b * _RC_ROWS + 1, _RC_ROWS
                    ).alias("bh"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bh")
    ba, bb = band_entries.alias("a"), band_entries.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(True).alias("is_cand"),
        )
        .distinct()
    )
    joined = jacc.join(cand, ["doc_a", "doc_b"], "left")
    hit = F.when(F.col("is_cand"), 1).otherwise(0)
    return (
        joined.select(
            F.least(
                F.floor((F.col("i") * 10) / F.col("u")), F.lit(9).cast("bigint")
            ).alias("j_bucket"),
            hit.alias("hit"),
        )
        .groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("hit").cast("long").alias("n_candidates"),
        )
        .select(
            F.col("j_bucket").cast("long").alias("j_bucket"),
            "n_pairs",
            "n_candidates",
            round_div(
                F.col("n_candidates") * 1.0, F.col("n_pairs"), 4
            ).alias("recall"),
        )
        .orderBy("j_bucket")
    )


# --------------------------------------------------------------------
# containment_excerpt_dups
# --------------------------------------------------------------------

_CE_N = 5  # shingle width (word 5-grams)
_CE_MAX_DF = 20  # hot-shingle guard: drop shingles in > 20 docs (both
# engines) — the same k^2 bound dedup_ngram_jaccard carries
_CE_MIN_SH = 3  # ignore docs with < 3 surviving shingles
_CE_PCT = 8  # containment threshold 0.8 as integer tenths: 10*i >= 8*n
_CE_PLANT_MOD = 23  # every 23rd long doc spawns an excerpt twin
_CE_MIN_PLANT_TOKS = 18  # plant only from docs long enough that the
# excerpt's Jaccard vs its source stays far below near-dup thresholds
_CE_OFFSET = 40_000_000  # excerpt ids, clear of fixture ids


def _containment_oracle() -> str:
    return f"""
    WITH src AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_CE_N}
    ),
    plants AS (
      SELECT doc_id + {_CE_OFFSET} AS doc_id,
             ws[1 : GREATEST({_CE_N + 2}, (len(ws) * 2) // 5)] AS ws
      FROM src
      WHERE doc_id % {_CE_PLANT_MOD} = 0
        AND len(ws) >= {_CE_MIN_PLANT_TOKS}
    ),
    corpus AS (SELECT * FROM src UNION ALL SELECT * FROM plants),
    sh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(ws[u.i + 1 : u.i + {_CE_N}], ' ')) AS h
      FROM corpus, UNNEST(range(len(ws) - {_CE_N - 1})) AS u(i)
    ),
    keptsh AS (
      SELECT s.doc_id, s.h
      FROM sh s
      JOIN (SELECT h FROM sh GROUP BY h
            HAVING COUNT(*) <= {_CE_MAX_DF}) d USING (h)
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM keptsh GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS inter
      FROM keptsh a JOIN keptsh b
        ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b, p.inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
             CASE WHEN sa.n_sh <= sb.n_sh THEN p.doc_a ELSE p.doc_b END
               AS doc_small,
             CASE WHEN sa.n_sh <= sb.n_sh THEN p.doc_b ELSE p.doc_a END
               AS doc_big,
             LEAST(sa.n_sh, sb.n_sh) AS n_small,
             GREATEST(sa.n_sh, sb.n_sh) AS n_big
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_small, doc_big,
           CAST(n_small AS BIGINT) AS n_small,
           CAST(n_big AS BIGINT) AS n_big,
           CAST(inter AS BIGINT) AS inter,
           {sql_round_div('inter * 1.0', 'n_small')} AS containment,
           {sql_round_div('inter * 1.0', 'n_a + n_b - inter')} AS jaccard
    FROM scored
    WHERE n_small >= {_CE_MIN_SH} AND 10 * inter >= {_CE_PCT} * n_small
    ORDER BY doc_small, doc_big
    """


@register(
    "containment_excerpt_dups",
    _containment_oracle(),
    bench=True,
    doc="one-sided set CONTAINMENT dedup (Broder 1997): |A∩B| / |A| "
    "over distinct 5-gram shingle sets, threshold 0.8 compared as "
    "cross-multiplied integers (10*inter >= 8*n_small). Catches "
    "EXCERPTS — a quote or syndicated fragment fully contained in a "
    "longer doc scores containment ~1.0 while its symmetric Jaccard "
    "sits near |A|/|B|, far below every registered near-dup "
    "threshold, so minhash/simhash/ngram-jaccard structurally miss "
    "it. Planted excerpt twins (first ~40% of every 23rd long doc, "
    "ids past 4e7) witness the gap; the smaller-set side is chosen "
    "deterministically (size, then id). 100 TB shape: the same "
    "df-capped inverted-index discipline as dedup_ngram_jaccard — "
    "candidate pairs come from shingle collisions with hot shingles "
    "(df > 20) dropped on BOTH engines, so the pair count is bounded "
    "by true overlap, never |corpus|²; the md5 digest caps shuffle "
    "width at 32 bytes/shingle; sizes join back on the df-capped "
    "universe so containment is exact over the filtered shingle "
    "space (the cap is the documented scale guard, as in the "
    "registered Jaccard family).",
)
def containment_excerpt_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # dense=True: the md5-per-5-gram projection below is
    # compute-dense, so the size-aware byte floor starved it
    # (interleaved A/B: dense 2.349 vs sized 2.711 s min-of-4)
    src = (
        fan_out(docs, dense=True)
        .select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
        .filter(F.size("ws") >= _CE_N)
    )
    ex_len = F.greatest(
        F.lit(_CE_N + 2), F.floor(F.size("ws") * 2 / 5).cast("int")
    )
    plants = src.filter(
        (F.col("doc_id") % _CE_PLANT_MOD == 0)
        & (F.size("ws") >= _CE_MIN_PLANT_TOKS)
    ).select(
        (F.col("doc_id") + _CE_OFFSET).alias("doc_id"),
        F.slice("ws", F.lit(1), ex_len).alias("ws"),
    )
    corpus = src.unionByName(plants)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ws") - _CE_N),
        lambda i: F.md5(
            F.encode(F.concat_ws(" ", F.slice("ws", i + 1, _CE_N)), "utf-8")
        ),
    )
    # repartition("h") BEFORE the distinct: hashpartitioning(h)
    # satisfies the distinct's ClusteredDistribution([doc_id, h]) (a
    # subset key co-locates every group), so the distinct, the df-cap
    # window and the doc-set aggregate below all ride ONE exchange —
    # the distinct's own (doc_id, h) exchange followed by the window's
    # h re-exchange was two shuffles of the same rows (in-doc 5-gram
    # repeats are rare, so the pre-distinct rows ~= the distinct rows
    # and the swap moves no extra bytes at any scale). A/B interleaved
    # min-of-5: 1.270 -> 1.202 s, identical rows.
    sh = (
        corpus.select("doc_id", F.explode(grams).alias("h"))
        .repartition("h")
        .distinct()
    )
    # single-exchange candidate generation (guide §2.4): the df-cap window and a per-shingle doc-set
    # aggregate SHARE one hashpartitioning(h) exchange — the window
    # (which streams sorted runs and spills to disk, so a hot shingle
    # can never blow task memory) drops df > _CE_MAX_DF shingles
    # BEFORE collect_set buffers anything, bounding every per-group
    # set at _CE_MAX_DF doc ids by construction. That replaces the
    # earlier self-join of keptsh with itself (two more shuffles of the
    # shingle table plus the join) with a map-side C(k,2) pair
    # expression over the bounded sets, k <= _CE_MAX_DF — the naive
    # unbounded-collect_set form (measured and rejected) is NOT
    # this: here the spill-safe window short-circuits hot shingles
    # first. Pair multiset identical to the self-join (sh is distinct,
    # sort_array ascending == the a.doc_id < b.doc_id condition;
    # pinned in tests/test_dedup_queries.py). grp materializes ONCE for
    # its two consumers (pairs + sizes) — without the checkpoint each
    # re-runs the scan -> shingle -> distinct -> df-cap pipeline.
    df_w = Window.partitionBy("h")
    grp = (
        sh.withColumn("_df", F.count(F.lit(1)).over(df_w))
        .filter(F.col("_df") <= _CE_MAX_DF)
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .localCheckpoint()
    )
    ds = F.col("ds")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    sizes = (
        grp.select(F.explode(ds).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    pairs = (
        grp.select(F.explode(pair_arr).alias("pr"))
        .groupBy(
            F.col("pr.a").alias("doc_a"),
            F.col("pr.b").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_small"),
            F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_big"),
            F.least("n_a", "n_b").cast("long").alias("n_small"),
            F.greatest("n_a", "n_b").cast("long").alias("n_big"),
            F.col("inter").cast("long").alias("inter"),
            (F.col("n_a") + F.col("n_b") - F.col("inter")).alias("uni"),
        )
    )
    return (
        scored.filter(
            (F.col("n_small") >= _CE_MIN_SH)
            & (10 * F.col("inter") >= _CE_PCT * F.col("n_small"))
        )
        .select(
            "doc_small",
            "doc_big",
            "n_small",
            "n_big",
            "inter",
            round_div(F.col("inter") * 1.0, F.col("n_small")).alias(
                "containment"
            ),
            round_div(F.col("inter") * 1.0, F.col("uni")).alias("jaccard"),
        )
        .orderBy("doc_small", "doc_big")
    )


# --------------------------------------------------------------------
# softdedup_commonness_reweight
# --------------------------------------------------------------------

_SW_N = 4  # shingle width (word 4-grams)
_SW_PLANT_MOD = 17  # every 17th doc spawns a verbatim twin
_SW_MIN_PLANT_TOKS = 8  # plant only docs long enough to carry shingles
_SW_OFFSET = 50_000_000  # twin ids, clear of fixture ids


def _softdedup_oracle() -> str:
    return f"""
    WITH src AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_SW_N}
    ),
    plants AS (
      SELECT doc_id + {_SW_OFFSET} AS doc_id, ws
      FROM src
      WHERE doc_id % {_SW_PLANT_MOD} = 0
        AND len(ws) >= {_SW_MIN_PLANT_TOKS}
    ),
    corpus AS (SELECT * FROM src UNION ALL SELECT * FROM plants),
    sh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(ws[u.i + 1 : u.i + {_SW_N}], ' ')) AS h
      FROM corpus, UNNEST(range(len(ws) - {_SW_N - 1})) AS u(i)
    ),
    dfreq AS (
      SELECT h, COUNT(*) AS df FROM sh GROUP BY h
    ),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_sh,
             SUM(d.df) AS sum_df
      FROM sh s JOIN dfreq d USING (h)
      GROUP BY s.doc_id
    )
    SELECT doc_id,
           CAST(n_sh AS BIGINT) AS n_sh,
           CAST(sum_df AS BIGINT) AS sum_df,
           {sql_round_div('sum_df * 1.0', 'n_sh')} AS commonness,
           {sql_round_div('n_sh * 1.0', 'sum_df')} AS soft_weight
    FROM per_doc
    ORDER BY doc_id
    """


@register(
    "softdedup_commonness_reweight",
    _softdedup_oracle(),
    doc="SoftDeDup reweighting (He et al. 2024): keep every document "
    "but DOWN-WEIGHT duplicated content instead of dropping it — the "
    "loss-reweighting alternative to removal when a training mix "
    "cannot afford coverage loss. Commonness = mean corpus document-"
    "frequency of the doc's DISTINCT word 4-gram shingles (md5 "
    "digests, 32 bytes of shuffle width each); soft_weight = its "
    "reciprocal, computed as the exact-integer quotient n_sh/sum_df "
    "through the shared decimal half-up route (never 1/commonness — "
    "one rounding, not two). Verbatim twins (every 17th doc, ids past "
    "5e7) witness the semantics: a doc and its clone share every "
    "shingle, so each shingle's df doubles and the pair's soft_weight "
    "falls to <= 0.5 while unique docs stay near 1.0. 100 TB shape: "
    "distinct-shingle stream -> per-digest df via ONE shingle-"
    "partitioned window (an aggregate+equi-join form would re-run the "
    "shingle pipeline per consumer) -> doc-keyed aggregate. No join "
    "and no self-join anywhere, so cost is "
    "strictly linear in corpus shingles — cheaper than every pair-"
    "producing family in the registry; hot shingles need no df cap "
    "because df rides the join as a value, never a fan-out key.",
)
def softdedup_commonness_reweight(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # fan_out BEFORE the shingle projection (higher-order transform +
    # md5 per window, outside codegen): a small-file fixture scan is
    # 1-3 partitions — a single-split scan. No-op on a
    # real many-split corpus.
    src = (
        fan_out(docs)
        .select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
        .filter(F.size("ws") >= _SW_N)
    )
    plants = src.filter(
        (F.col("doc_id") % _SW_PLANT_MOD == 0)
        & (F.size("ws") >= _SW_MIN_PLANT_TOKS)
    ).select((F.col("doc_id") + _SW_OFFSET).alias("doc_id"), "ws")
    corpus = src.unionByName(plants)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ws") - _SW_N),
        lambda i: F.md5(
            F.encode(F.concat_ws(" ", F.slice("ws", i + 1, _SW_N)), "utf-8")
        ),
    )
    sh = corpus.select("doc_id", F.explode(grams).alias("h")).distinct()
    # per-shingle df rides a shingle-partitioned window instead of an
    # aggregate + self-join: ONE consumer chain, so the shingle
    # pipeline executes once (the agg+join form re-ran it per
    # consumer — 4 document scans in the audited plan) and one whole
    # shuffle drops out
    per_doc = (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sh"),
            F.sum("df").cast("long").alias("sum_df"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_sh",
        "sum_df",
        round_div(F.col("sum_df") * 1.0, F.col("n_sh")).alias("commonness"),
        round_div(F.col("n_sh") * 1.0, F.col("sum_df")).alias("soft_weight"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# url_canonicalize_dedup
# --------------------------------------------------------------------

_UC_FAM = 5  # URL variants per family (doc_id // 5 = family)
# canonicalization rules — ONE pattern string shared verbatim by both
# engines (Java regex and RE2 agree on this subset: character classes,
# alternation, anchors; no lookaround, no backrefs). Every pattern is
# $-anchored or single-occurrence, so DuckDB's first-match
# regexp_replace and Spark's replace-all agree by construction.
_UC_FRAG = "#.*$"  # strip fragment
_UC_TRACK = "[?]utm_[a-z]+=[^&#]*(&utm_[a-z]+=[^&#]*)*$"  # tracking-only
# query strings (all params utm_*) — mixed query strings are kept
_UC_PREFIX = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"  # scheme://host[:port]
_UC_PORT = ":(80|443)$"  # default ports, applied to the lowered prefix
_UC_SLASH = "/$"  # trailing slash on the path part


def _url_oracle() -> str:
    fam = "CAST(doc_id // 5 AS VARCHAR)"
    return f"""
    WITH raw AS (
      SELECT doc_id,
        CASE doc_id % {_UC_FAM}
          WHEN 0 THEN 'https://www.site' || {fam} || '.com/a/b'
          WHEN 1 THEN 'HTTPS://WWW.SITE' || {fam} || '.COM/a/b#frag'
          WHEN 2 THEN 'https://www.site' || {fam}
                   || '.com:443/a/b?utm_source=feed&utm_medium=rss'
          WHEN 3 THEN 'https://www.site' || {fam} || '.com/a/b/'
          ELSE 'https://www.site' || {fam} || '.com/other'
        END AS url
      FROM documents
    ),
    st AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(url, '{_UC_FRAG}', ''),
                            '{_UC_TRACK}', '') AS u2
      FROM raw
    ),
    sp AS (
      SELECT doc_id, u2,
             regexp_extract(u2, '{_UC_PREFIX}', 1) AS prefix
      FROM st
    )
    SELECT regexp_replace(lower(prefix), '{_UC_PORT}', '')
             || regexp_replace(substring(u2, length(prefix) + 1),
                               '{_UC_SLASH}', '') AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keep_doc_id
    FROM sp
    GROUP BY 1
    ORDER BY canonical_url
    """


@register(
    "url_canonicalize_dedup",
    _url_oracle(),
    doc="URL canonicalization + exact dedup — the CommonCrawl/FineWeb "
    "FIRST dedup stage, run before any content hashing because it "
    "needs no text at all: strip fragments, strip tracking-only query "
    "strings (all-utm_*; mixed queries survive), case-fold the "
    "scheme://host prefix only (paths stay case-sensitive per RFC "
    "3986), strip default :80/:443 ports, strip the trailing slash, "
    "then group by the canonical form keeping the min-id survivor. "
    "Five deterministic doc_id-derived URL variants (the house "
    "planting idiom) witness each rule: per family of 5, four "
    "spellings collapse into one 4-doc canonical group and the fifth "
    "stays its own group. One regex pattern set is shared VERBATIM by "
    "both engines (Java regex vs RE2 agree on this subset; every "
    "pattern is $-anchored or single-occurrence so first-match vs "
    "replace-all semantics cannot diverge). 100 TB shape: map-only "
    "JVM regex projection + one hash aggregate keyed by canonical "
    "URL (map-side combine) — no joins, no explode; this runs on the "
    "crawl index before a single document body is fetched.",
)
def url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id")
    fam = F.floor(F.col("doc_id") / _UC_FAM).cast("long").cast("string")
    host = F.concat(F.lit("www.site"), fam, F.lit(".com"))
    v = F.col("doc_id") % _UC_FAM
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), host, F.lit("/a/b")))
        .when(
            v == 1,
            F.concat(F.lit("HTTPS://"), F.upper(host), F.lit("/a/b#frag")),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://"),
                host,
                F.lit(":443/a/b?utm_source=feed&utm_medium=rss"),
            ),
        )
        .when(v == 3, F.concat(F.lit("https://"), host, F.lit("/a/b/")))
        .otherwise(F.concat(F.lit("https://"), host, F.lit("/other")))
    )
    st = docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(url, _UC_FRAG, ""), _UC_TRACK, ""
        ).alias("u2"),
    )
    sp = st.select(
        "doc_id", "u2", F.regexp_extract("u2", _UC_PREFIX, 1).alias("prefix")
    )
    rest = F.col("u2").substr(F.length("prefix") + 1, F.length("u2"))
    canonical = F.concat(
        F.regexp_replace(F.lower("prefix"), _UC_PORT, ""),
        F.regexp_replace(rest, _UC_SLASH, ""),
    )
    return (
        sp.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("canonical_url")
    )


# --------------------------------------------------------------------
# semdedup_scaled_prune
# --------------------------------------------------------------------

_SS_POP = 50  # target cluster POPULATION — the fixed quantity at scale
_SS_ITERS = 2
_SS_DIM = 64
_SS_PLANT_OFFSET = 1_000_000_000  # same plant regime as semdedup_prune
# cos >= 0.95 as the exact-integer contract 400*dot^2 >= 361*|a|^2*|b|^2
_SS_NUM, _SS_DEN = 361, 400
# k as a SQL expression over the SAME planted-union source the Spark
# side counts — ceil(N / pop) via integer arithmetic
_SS_K_EXPR = f"SELECT (COUNT(*) + {_SS_POP - 1}) // {_SS_POP} FROM p"


def _semdedup_scaled_oracle() -> str:
    from market_pulse_data_pipeline_spark.functions.clustering import (  # noqa: PLC0415
        SNAP_SCALE,
        kmeans_oracle_sql,
    )

    final = f"""
    , asg AS (SELECT vec_id, cid AS cluster FROM %(a)s),
    n2 AS (SELECT vec_id, SUM(qv * qv) AS n2 FROM pu GROUP BY vec_id),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a JOIN asg b
        ON a.cluster = b.cluster AND a.vec_id > b.vec_id
    ),
    dots AS (
      SELECT c.id_a, c.id_b, SUM(pa.qv * pb.qv) AS dot
      FROM cand c
      JOIN pu pa ON pa.vec_id = c.id_a
      JOIN pu pb ON pb.vec_id = c.id_b AND pb.pos = pa.pos
      GROUP BY c.id_a, c.id_b
    ),
    dup AS (
      SELECT DISTINCT d.id_a AS vec_id
      FROM dots d
      JOIN n2 x ON x.vec_id = d.id_a
      JOIN n2 y ON y.vec_id = d.id_b
      WHERE d.dot >= 0
        AND {_SS_DEN} * d.dot * d.dot >= {_SS_NUM} * x.n2 * y.n2
    )
    SELECT a.vec_id, CAST(a.cluster AS INTEGER) AS cluster,
           (dup.vec_id IS NOT NULL) AS dropped
    FROM asg a LEFT JOIN dup ON dup.vec_id = a.vec_id
    ORDER BY a.vec_id
    """
    src = f"""(
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_SS_PLANT_OFFSET},
             list_transform(embedding, x -> CAST(x * 1.001 AS FLOAT))
      FROM embeddings WHERE vec_id % 13 = 0
    ) both_src"""
    return kmeans_oracle_sql(
        final,
        k=_SS_K_EXPR,
        iters=_SS_ITERS,
        dim=_SS_DIM,
        scale=SNAP_SCALE,
        src=src,
    )


@register(
    "semdedup_scaled_prune",
    _semdedup_scaled_oracle(),
    bench=True,
    doc="SemDeDup at its published 100 TB posture: "
    "k-means blocking with k ∝ CORPUS SIZE — k = ceil(N / 50), so the "
    "per-cluster population (and hence the within-cluster quadratic, "
    "the algorithm's one super-linear term) stays FIXED as the corpus "
    "grows, where the registered semdedup_prune's constant k=10 is "
    "the paper's small-scale setup. Both engines derive k from the "
    "same planted-union count: Spark via a bounded 1-row count of "
    "the fit's materialized quantized table (row-identical to the "
    "union), the DuckDB twin via a scalar subquery in the "
    "shared unrolled-Lloyd generator's init LIMIT (kmeans_oracle_sql "
    "k-as-expression) — the value hash therefore covers the scaling "
    "RULE, not just one k. Within-cluster pairwise cosine >= 0.95 as "
    "the exact-integer contract 400*dot^2 >= 361*|a|^2*|b|^2 on "
    "round(x*1e6) int64 vectors; lowest vec_id survives; planted "
    "1.001-scaled copies witness. 100 TB shape: per-assignment cost "
    "grows O(k·dim) — the documented IVF escalation (coarse-quantize "
    "first, assign within the probed cell) caps it when k reaches "
    "1e5+; centroid state stays k×dim driver-bounded; one shuffle on "
    "cluster id for the pair join, quadratic bounded per cluster BY "
    "CONSTRUCTION at every corpus size.",
)
def semdedup_scaled_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.clustering import (  # noqa: PLC0415
        kmeans_snapped_fit,
        within_cluster_pair_dots,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + _SS_PLANT_OFFSET).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 1.001).cast("float")
        ).alias("embedding"),
    )
    both = emb.unionByName(planted)
    # k is data-derived (the population-pinned scaling rule — the point
    # of this query): the fit evaluates the rule against its OWN
    # materialized quantized table (row-for-row the same frame, so the
    # same N the oracle's scalar subquery counts) instead of paying a
    # separate full scan of the planted-union plan for one count.
    # emit_n2: assignment + exact int64 n2 in ONE fused Arrow
    # pass inside the fit (see semdedup_prune) — replaces the
    # interpreted per-row JVM fold this query stacked on a separate
    # ArrowEvalPython assignment.
    qv, _ = kmeans_snapped_fit(
        both,
        iters=_SS_ITERS,
        k_from_count=lambda n: (n + _SS_POP - 1) // _SS_POP,
        emit_n2=True,
    )
    # materialize the assignment once for its two consumers (pair
    # kernel + final left join) — see semdedup_prune; at scaled k
    # the per-row k x dim argmin is the dominant cost, so re-running
    # it per consumer doubles the query's compute
    qv = qv.localCheckpoint(eager=True)
    # grouped int64-matmul pair kernel (see semdedup_prune): a
    # guaranteed superset of the threshold pairs; the exact decimal(38)
    # contract below is unchanged, so the dup set is bit-identical.
    pairs = within_cluster_pair_dots(qv, _SS_NUM, _SS_DEN)
    dec = "decimal(38,0)"
    d = F.col("dot").cast(dec)
    dup = (
        pairs.filter(
            (F.col("dot") >= 0)
            & (
                d * d * F.lit(_SS_DEN).cast(dec)
                >= F.col("na").cast(dec)
                * F.col("nb").cast(dec)
                * F.lit(_SS_NUM).cast(dec)
            )
        )
        .select(F.col("id_a").alias("dup_id"))
        .distinct()
    )
    return (
        qv.join(dup, qv.vec_id == dup.dup_id, "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.col("dup_id").isNotNull().alias("dropped"),
        )
        .orderBy("vec_id")
    )
