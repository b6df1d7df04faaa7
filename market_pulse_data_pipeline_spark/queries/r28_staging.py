"""Round-28-batch queries: the Heaps vocabulary growth curve,
ROUGE-1/2 overlap, and span-match F1.

Each one is registered with a DuckDB value-hash oracle, checked by
tests/test_queries_oracle.py; tests/test_r28_staging.py keeps the
semantic replays.

The three open capability families no other registered query touches:

- ``heaps_vocab_growth_curve`` — the second corpus LAW next to the
  Zipf spectrum (Heaps/Herdan: vocabulary grows ~ K·n^β): cumulative
  vocabulary size at each corpus-prefix decile, computed EXACTLY
  without any running-distinct machinery — a token's first occurrence
  doc (one hash aggregate) makes vocab(prefix) a simple count of
  first-occurrences at or below the cutoff. Templated/synthetic
  corpora flatten early; a real crawl keeps growing — this is the
  diagnostic that catches a corpus whose "new" shards add no new
  content. Planted never-seen tokens (every 13th doc) keep the
  fixture curve strictly increasing, so the first-occurrence algebra
  is live in every compared row instead of saturating in decile 1.
- ``rouge_n_eval_overlap`` — generation/summarization evaluation:
  ROUGE-1 and ROUGE-2 with CLIPPED bag matching (Lin 2004) between
  each reference document and a deterministically derived candidate
  (an 80%-prefix with a duplicated lead token — the clip witness: its
  candidate count exceeds the reference count and must NOT double-
  count — plus alien tokens that depress precision). For clipped
  matching P and R share the numerator, so F1 = 2m/(len_c + len_r) is
  a single exact division. Nothing registered computes an n-gram
  overlap METRIC (the dedup family thresholds Jaccard; eval needs
  precision/recall/F1 per pair).
- ``span_match_f1`` — span-level annotation evaluation (the NER/
  extraction scorer): exact-span precision/recall/F1 of a predicted
  span set against gold, where gold = every occurrence of a fixed
  bigram and predictions are a deterministic hash-perturbation of
  gold (dropped spans → recall misses, shifted spans → matched-
  nothing precision errors, spurious spans → pure false positives).
  Composes the span substrate (token_spans_offsets,
  gazetteer_phrase_match) with the evaluation step that consumes it;
  tp/n_gold/n_pred and the three ratios ride the compared bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.dedup import (
    portable_hash60,
)
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)

# --------------------------------------------------------------------
# heaps_vocab_growth_curve
# --------------------------------------------------------------------

_HV_DECILES = 10
# every 13th doc contributes one NEVER-SEEN token: without plants the
# fixture's 31-token vocabulary saturates inside the first decile and
# the curve is a flat line that exercises nothing — the plants make
# vocab(prefix) strictly increasing across all ten deciles, so the
# first-occurrence algebra is live in every compared row
_HV_PLANT_MOD = 13


def _hv_oracle() -> str:
    return f"""
    WITH docs_t AS (
      SELECT doc_id,
             string_split(
               text || CASE WHEN doc_id % {_HV_PLANT_MOD} = 0
                       THEN ' uniq' || CAST(doc_id AS VARCHAR)
                       ELSE '' END, ' ') AS ws
      FROM documents
    ),
    toks AS (
      SELECT doc_id, UNNEST(ws) AS tok FROM docs_t
    ),
    firsts AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    cuts AS (
      SELECT CAST(u.d AS BIGINT) AS decile,
             CAST((nn.n * u.d) // {_HV_DECILES} - 1 AS BIGINT) AS cutoff
      FROM nn, UNNEST(range(1, {_HV_DECILES + 1})) AS u(d)
    ),
    vocab AS (
      SELECT c.decile, CAST(COUNT(*) AS BIGINT) AS vocab_size
      FROM firsts f JOIN cuts c ON f.first_doc <= c.cutoff
      GROUP BY 1
    ),
    dsz AS (
      SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_toks FROM docs_t
    ),
    prefix AS (
      SELECT c.decile, c.cutoff,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(d.n_toks) AS BIGINT) AS n_tokens
      FROM dsz d JOIN cuts c ON d.doc_id <= c.cutoff
      GROUP BY 1, 2
    )
    SELECT p.decile, p.cutoff AS cutoff_doc_id, p.n_docs, p.n_tokens,
           v.vocab_size,
           {sql_round_div('v.vocab_size * 1.0', 'p.n_tokens', 6)}
             AS type_token_ratio
    FROM prefix p JOIN vocab v USING (decile)
    ORDER BY decile
    """


@register(
    "heaps_vocab_growth_curve",
    _hv_oracle(),
    doc="Heaps'/Herdan's-law vocabulary growth: cumulative vocabulary "
    "size at each corpus-prefix decile - the second corpus LAW next "
    "to zipf_token_frequency_profile's frequency spectrum, and the "
    "diagnostic that catches a corpus whose new shards add no new "
    "content (the curve flattens). Computed EXACTLY with no "
    "running-distinct machinery: one (token -> MIN(doc_id)) hash "
    "aggregate makes vocab(prefix) a plain count of first-occurrence "
    "docs at or below each cutoff - the first-occurrence trick turns "
    "a cumulative-distinct (which would need a sorted scan or sketch "
    "merges) into two bounded joins against a 10-row decile table. "
    "100 TB shape: one token aggregate (vocabulary-keyed, map-side "
    "combine), one per-doc size aggregate, then two broadcast "
    "10-row inequality joins with bounded fan-out; output is exactly "
    "10 rows. The prefix order is doc_id (ingestion order in the "
    "fixture); production substitutes its shard/partition order.",
)
def heaps_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heaps_vocab_growth_curve_from(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


def heaps_vocab_growth_curve_from(docs: DataFrame) -> DataFrame:
    """The full curve over a (doc_id, text) frame — shared with
    tools/stress_check.py's ``heaps_curve`` stage so the stress row
    always measures the shipping shape."""
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % _HV_PLANT_MOD == 0,
            F.concat(F.lit(" uniq"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    docs_t = docs.select("doc_id", F.split(planted, " ").alias("ws"))
    toks = docs_t.select("doc_id", F.explode("ws").alias("tok"))
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cuts = nn.select(
        F.explode(F.sequence(F.lit(1), F.lit(_HV_DECILES))).alias("d"),
        "n",
    ).select(
        F.col("d").cast("long").alias("decile"),
        F.expr(f"(n * d) div {_HV_DECILES} - 1").cast("long").alias(
            "cutoff"
        ),
    )
    vocab = (
        firsts.crossJoin(F.broadcast(cuts))
        .filter(F.col("first_doc") <= F.col("cutoff"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    )
    dsz = docs_t.select(
        "doc_id", F.size("ws").cast("long").alias("n_toks")
    )
    prefix = (
        dsz.crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("decile", "cutoff")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    return (
        prefix.join(F.broadcast(vocab), "decile")
        .select(
            "decile",
            F.col("cutoff").alias("cutoff_doc_id"),
            "n_docs",
            "n_tokens",
            "vocab_size",
            round_div(
                F.col("vocab_size") * 1.0, F.col("n_tokens"), 6
            ).alias("type_token_ratio"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------
# rouge_n_eval_overlap
# --------------------------------------------------------------------

_RG_EVAL_MOD = 41  # doc_id % 41 == 0 plays the reference set
# candidate = first 80% of the reference tokens, then the lead token
# AGAIN (the clip witness: its candidate count exceeds its reference
# count in most docs), then two alien tokens (pure precision errors)
_RG_CUT_NUM, _RG_CUT_DEN = 4, 5


def _rg_cand_sql() -> str:
    return (
        f"list_concat(ws[1 : (len(ws) * {_RG_CUT_NUM}) // {_RG_CUT_DEN}],"
        " [ws[1], 'zz9', 'zz8'])"
    )


def _rg_oracle() -> str:
    return f"""
    WITH refs AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % {_RG_EVAL_MOD} = 0
    ),
    pairs AS (
      SELECT doc_id, ws AS ref_ws, {_rg_cand_sql()} AS cand_ws FROM refs
    ),
    u_r AS (
      SELECT doc_id, UNNEST(ref_ws) AS g FROM pairs
    ),
    u_c AS (
      SELECT doc_id, UNNEST(cand_ws) AS g FROM pairs
    ),
    b_r AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(ref_ws)),
                    i -> ref_ws[i] || ' ' || ref_ws[i + 1])) AS g
      FROM pairs
    ),
    b_c AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(cand_ws)),
                    i -> cand_ws[i] || ' ' || cand_ws[i + 1])) AS g
      FROM pairs
    ),
    m1 AS (
      SELECT r.doc_id,
             CAST(SUM(LEAST(r.c, c.c)) AS BIGINT) AS m
      FROM (SELECT doc_id, g, COUNT(*) AS c FROM u_r GROUP BY 1, 2) r
      JOIN (SELECT doc_id, g, COUNT(*) AS c FROM u_c GROUP BY 1, 2) c
        USING (doc_id, g)
      GROUP BY 1
    ),
    m2 AS (
      SELECT r.doc_id,
             CAST(SUM(LEAST(r.c, c.c)) AS BIGINT) AS m
      FROM (SELECT doc_id, g, COUNT(*) AS c FROM b_r GROUP BY 1, 2) r
      JOIN (SELECT doc_id, g, COUNT(*) AS c FROM b_c GROUP BY 1, 2) c
        USING (doc_id, g)
      GROUP BY 1
    ),
    sizes AS (
      SELECT doc_id,
             CAST(len(ref_ws) AS BIGINT) AS lr1,
             CAST(len(cand_ws) AS BIGINT) AS lc1,
             CAST(len(ref_ws) - 1 AS BIGINT) AS lr2,
             CAST(len(cand_ws) - 1 AS BIGINT) AS lc2
      FROM pairs
    )
    SELECT s.doc_id,
           COALESCE(m1.m, 0) AS m1, s.lc1, s.lr1,
           {sql_round_div('COALESCE(m1.m, 0) * 1.0', 's.lc1', 6)}
             AS rouge1_p,
           {sql_round_div('COALESCE(m1.m, 0) * 1.0', 's.lr1', 6)}
             AS rouge1_r,
           {sql_round_div('2.0 * COALESCE(m1.m, 0)', 's.lc1 + s.lr1', 6)}
             AS rouge1_f1,
           COALESCE(m2.m, 0) AS m2, s.lc2, s.lr2,
           {sql_round_div('2.0 * COALESCE(m2.m, 0)', 's.lc2 + s.lr2', 6)}
             AS rouge2_f1
    FROM sizes s
    LEFT JOIN m1 USING (doc_id)
    LEFT JOIN m2 USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "rouge_n_eval_overlap",
    _rg_oracle(),
    doc="ROUGE-1/ROUGE-2 with CLIPPED bag matching (Lin 2004) - the "
    "generation/summarization evaluation metric, a family nothing "
    "registered computes (the dedup queries THRESHOLD Jaccard; eval "
    "needs per-pair precision/recall/F1). Candidates derive "
    "deterministically from each reference: an 80%-prefix (recall "
    "< 1), the lead token duplicated (the CLIP witness - its "
    "candidate count exceeds its reference count and min() must "
    "refuse to double-count), and two alien tokens (pure precision "
    "errors). Clipped match m = sum min(count_cand, count_ref) per "
    "gram; P and R share the numerator so F1 = 2m/(len_c + len_r) is "
    "one exact division through the decimal route. 100 TB shape: "
    "grams explode map-side from the pair frame, one (doc, gram) "
    "aggregate per side per order, doc-keyed equi-joins - pair "
    "volume is the eval set, which is model-sized by definition "
    "(the decontamination asymmetry applied to scoring).",
)
def rouge_n_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rouge_n_eval_overlap_from(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _RG_EVAL_MOD == 0)
        .select("doc_id", "text")
    )


def rouge_n_eval_overlap_from(refs: DataFrame) -> DataFrame:
    """The full scorer over a (doc_id, text) reference frame — shared
    with tools/stress_check.py's ``rouge_eval`` stage so the stress
    row always measures the shipping shape."""
    pairs = refs.select(
        "doc_id",
        F.split("text", " ").alias("ref_ws"),
    ).select(
        "doc_id",
        "ref_ws",
        F.concat(
            F.expr(
                f"slice(ref_ws, 1, (size(ref_ws) * {_RG_CUT_NUM}) div "
                f"{_RG_CUT_DEN})"
            ),
            F.array(
                F.element_at("ref_ws", 1), F.lit("zz9"), F.lit("zz8")
            ),
        ).alias("cand_ws"),
    )

    def bigrams(col: str):
        # zip_with over two slices is empty-safe for single-token docs
        # (sequence(1, size-1) would DESCEND to [1, 0] at size==1 and
        # ANSI element_at would throw — the span_match_f1 lookahead
        # lesson applied here too)
        return F.expr(
            f"zip_with(slice({col}, 1, greatest(size({col}) - 1, 0)), "
            f"slice({col}, 2, greatest(size({col}) - 1, 0)), "
            f"(a, b) -> concat(a, ' ', b))"
        )

    def bag(col, alias):
        return (
            pairs.select("doc_id", F.explode(col).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    def matched(r_bag, c_bag):
        return (
            r_bag.join(c_bag, ["doc_id", "g"])
            .groupBy("doc_id")
            .agg(
                F.sum(F.least(F.col("rc"), F.col("cc")))
                .cast("long")
                .alias("m")
            )
        )

    m1 = matched(bag(F.col("ref_ws"), "rc"), bag(F.col("cand_ws"), "cc"))
    m2 = matched(bag(bigrams("ref_ws"), "rc"), bag(bigrams("cand_ws"), "cc"))
    sizes = pairs.select(
        "doc_id",
        F.size("ref_ws").cast("long").alias("lr1"),
        F.size("cand_ws").cast("long").alias("lc1"),
        (F.size("ref_ws") - 1).cast("long").alias("lr2"),
        (F.size("cand_ws") - 1).cast("long").alias("lc2"),
    )
    z = F.lit(0).cast("long")
    return (
        sizes.join(m1.withColumnRenamed("m", "m1x"), "doc_id", "left")
        .join(m2.withColumnRenamed("m", "m2x"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("m1x", z).alias("m1"),
            "lc1",
            "lr1",
            round_div(
                F.coalesce("m1x", z) * 1.0, F.col("lc1"), 6
            ).alias("rouge1_p"),
            round_div(
                F.coalesce("m1x", z) * 1.0, F.col("lr1"), 6
            ).alias("rouge1_r"),
            round_div(
                F.coalesce("m1x", z) * 2.0,
                F.col("lc1") + F.col("lr1"),
                6,
            ).alias("rouge1_f1"),
            F.coalesce("m2x", z).alias("m2"),
            "lc2",
            "lr2",
            round_div(
                F.coalesce("m2x", z) * 2.0,
                F.col("lc2") + F.col("lr2"),
                6,
            ).alias("rouge2_f1"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# span_match_f1
# --------------------------------------------------------------------

_SP_A, _SP_B = "table", "scan"  # the gold bigram (present at every SF)
_SP_MOD = 5  # h % 5: 0 -> dropped (miss), 1 -> shifted, else exact
_SP_SPUR_MOD = 6  # docs with h(doc) % 6 == 0 emit one spurious span


def _sp_hash_sql(expr: str) -> str:
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"


def _sp_oracle() -> str:
    h_span = _sp_hash_sql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(start_pos AS VARCHAR)"
        " || ':sp'"
    )
    h_doc = _sp_hash_sql("CAST(doc_id AS VARCHAR) || ':spur'")
    return f"""
    WITH docs_t AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    gold AS (
      SELECT doc_id, u.p AS start_pos
      FROM docs_t, UNNEST(range(1, len(ws))) AS u(p)
      WHERE ws[p] = '{_SP_A}' AND ws[p + 1] = '{_SP_B}'
    ),
    perturbed AS (
      SELECT doc_id,
             CASE WHEN {h_span} % {_SP_MOD} = 1 THEN start_pos + 1
                  ELSE start_pos END AS start_pos
      FROM gold
      WHERE {h_span} % {_SP_MOD} <> 0
    ),
    spurious AS (
      SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS start_pos
      FROM docs_t
      WHERE {h_doc} % {_SP_SPUR_MOD} = 0
    ),
    pred AS (
      SELECT DISTINCT doc_id, start_pos FROM (
        SELECT * FROM perturbed UNION ALL SELECT * FROM spurious
      )
    ),
    tp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS tp
      FROM gold g JOIN pred p USING (doc_id, start_pos)
    ),
    ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gold FROM gold),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pred FROM pred)
    SELECT ng.n_gold, np.n_pred, tp.tp,
           {sql_round_div('tp.tp * 1.0', 'np.n_pred', 6)} AS precision_,
           {sql_round_div('tp.tp * 1.0', 'ng.n_gold', 6)} AS recall_,
           {sql_round_div('2.0 * tp.tp', 'np.n_pred + ng.n_gold', 6)}
             AS f1
    FROM ng, np, tp
    """


@register(
    "span_match_f1",
    _sp_oracle(),
    doc="span-level annotation evaluation - the NER/extraction scorer "
    "(exact-span matching, the CoNLL convention): precision, recall "
    "and F1 of a predicted span set against gold, where gold is "
    f"every token-aligned occurrence of '{_SP_A} {_SP_B}' and the "
    "predictions are a deterministic hash-perturbation of gold - "
    "dropped spans (recall misses), +1-shifted spans (they match "
    "NOTHING exactly: a shifted span is both a recall miss and a "
    "precision error, the property that distinguishes exact-span F1 "
    "from token-overlap scoring), and spurious spans (pure false "
    "positives). For exact matching P and R share the tp numerator, "
    "so F1 = 2*tp/(n_pred + n_gold) is one exact division. Composes "
    "the span substrate (token_spans_offsets, gazetteer_phrase_match "
    "produce spans) with the evaluation step that consumes it. "
    "100 TB shape: gold spans explode map-side, perturbation is a "
    "map-only md5 projection, one (doc, start) equi-join on true "
    "spans only - span volume is term frequency, never tokens.",
)
def span_match_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_match_f1_from(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


def span_match_f1_from(docs: DataFrame) -> DataFrame:
    """The full scorer over a (doc_id, text) frame — shared with
    tools/stress_check.py's ``span_f1`` stage so the stress row
    always measures the shipping shape."""
    docs_t = docs.select("doc_id", F.split("text", " ").alias("ws"))
    toks = docs_t.select(
        "doc_id", "ws", F.posexplode("ws").alias("p0", "tok")
    )
    gold = (
        toks.filter(
            (F.col("tok") == _SP_A)
            # F.get is 0-indexed and NULL-safe past the end (ANSI
            # element_at would throw on the final token's lookahead)
            & (F.get("ws", F.col("p0") + 1) == _SP_B)
        )
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("start_pos"))
    )

    h60 = portable_hash60

    h_span = h60(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("start_pos").cast("string"),
            F.lit(":sp"),
        )
    )
    perturbed = (
        gold.withColumn("h", h_span)
        .filter(F.col("h") % _SP_MOD != 0)
        .select(
            "doc_id",
            F.when(
                F.col("h") % _SP_MOD == 1, F.col("start_pos") + 1
            )
            .otherwise(F.col("start_pos"))
            .alias("start_pos"),
        )
    )
    spurious = docs_t.filter(
        h60(F.concat(F.col("doc_id").cast("string"), F.lit(":spur")))
        % _SP_SPUR_MOD
        == 0
    ).select("doc_id", (F.col("doc_id") % 3).cast("long").alias("start_pos"))
    pred = perturbed.unionByName(spurious).distinct()
    tp = gold.join(pred, ["doc_id", "start_pos"]).agg(
        F.count(F.lit(1)).cast("long").alias("tp")
    )
    ng = gold.agg(F.count(F.lit(1)).cast("long").alias("n_gold"))
    np_ = pred.agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    return (
        ng.crossJoin(np_)
        .crossJoin(tp)
        .select(
            "n_gold",
            "n_pred",
            "tp",
            round_div(F.col("tp") * 1.0, F.col("n_pred"), 6).alias(
                "precision_"
            ),
            round_div(F.col("tp") * 1.0, F.col("n_gold"), 6).alias(
                "recall_"
            ),
            round_div(
                F.col("tp") * 2.0, F.col("n_pred") + F.col("n_gold"), 6
            ).alias("f1"),
        )
    )
