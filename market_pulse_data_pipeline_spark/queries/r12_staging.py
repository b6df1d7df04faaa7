"""The r12 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r12_staging.py keeps the semantic pins.

- ``corpus_yield_funnel`` — the end-to-end YIELD REPORT a training-
  data pipeline team actually ships: per source domain, how many
  documents enter, how many survive exact dedup, how many also pass
  the quality gate, how many additionally clear eval-set
  decontamination, and how many tokens the surviving set contributes.
  Composes the registry's own stage semantics (dedup_exact's
  min-doc_id survivor, text_quality_score's length+stopword gate in
  integer form, eval_decontaminate_exact_ngrams' 13-gram broadcast
  rule) into one funnel — the number that decides whether a crawl
  snapshot is worth training on.
- ``c4_line_filters`` — C4's line-level cleanup heuristics (Raffel
  et al. 2020 §2.2, the T5 corpus rules): drop lines under 5 words or
  containing the word "javascript"; drop whole documents containing a
  curly brace, the phrase "lorem ipsum", or fewer than 3 surviving
  lines. The one canonical filter family the registry's quality suite
  (doc-level Gopher gates, df-gated boilerplate) did not yet cover:
  the LINE-level strip that precedes every doc-level score.
- ``hot_ngram_blocklist_coverage`` — corpus-level boilerplate n-gram
  blocklist (the Dodge et al. 2021 C4-analysis shape): the K globally
  most frequent trigrams become a blocklist, and every document
  reports what fraction of its trigram positions the blocklist
  covers — the signal that separates template/navigation-heavy pages
  from prose before any per-doc rule can. Complements
  boilerplate_sentence_removal (sentence-digest df gate) with the
  sub-sentence corpus-wide unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)
from market_pulse_data_pipeline_spark.queries.text import _SW_SQL, STOPWORDS

# --------------------------------------------------------------------
# corpus_yield_funnel
# --------------------------------------------------------------------

_YF_N = 13  # decontamination n-gram order (eval_decontaminate's)
_YF_EVAL_MOD = 53  # doc_id % 53 == 0 plays the held-out eval set
_YF_MIN_TOKENS = 20  # text_quality_score's length gate
_YF_STOP_PCT = 1  # stopword gate: n_stop * 100 >= n_tokens * 1


def _yield_oracle() -> str:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _MERSENNE,
    )

    h60 = (
        "(('0x' || substring(md5(array_to_string("
        f"list_slice(ws, i, i + {_YF_N - 1}), ' ')), 1, 15))::BIGINT"
        f" % {_MERSENNE})"
    )
    return f"""
    WITH train AS (
      SELECT doc_id, source, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ({_SW_SQL}))) AS n_stop
      FROM documents WHERE doc_id % {_YF_EVAL_MOD} <> 0
    ),
    survivors AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keep_id
      FROM train GROUP BY 1
    ),
    eg AS (
      SELECT DISTINCT UNNEST(
        list_transform(range(1, len(ws) - {_YF_N - 1} + 1), i -> {h60})
      ) AS g
      FROM (SELECT string_split(text, ' ') AS ws FROM documents
            WHERE doc_id % {_YF_EVAL_MOD} = 0)
      WHERE len(ws) >= {_YF_N}
    ),
    hits AS (
      SELECT DISTINCT doc_id
      FROM (
        SELECT doc_id, UNNEST(
          list_transform(range(1, len(ws) - {_YF_N - 1} + 1), i -> {h60})
        ) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM train)
        WHERE len(ws) >= {_YF_N}
      ) tg JOIN eg USING (g)
    ),
    flagged AS (
      SELECT tr.source, tr.n_tokens,
             (tr.doc_id = s.keep_id) AS survives_dedup,
             (tr.n_tokens >= {_YF_MIN_TOKENS}
              AND tr.n_stop * 100 >= tr.n_tokens * {_YF_STOP_PCT})
               AS passes_quality,
             (h.doc_id IS NULL) AS clean
      FROM train tr
      JOIN survivors s ON md5(tr.text) = s.h
      LEFT JOIN hits h USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(CASE WHEN survives_dedup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after_dedup,
           CAST(SUM(CASE WHEN survives_dedup AND passes_quality
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality,
           CAST(SUM(CASE WHEN survives_dedup AND passes_quality AND clean
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_after_decontam,
           CAST(SUM(CASE WHEN survives_dedup AND passes_quality AND clean
                         THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_out
    FROM flagged
    GROUP BY source
    ORDER BY source
    """


@register(
    "corpus_yield_funnel",
    _yield_oracle(),
    doc="end-to-end corpus yield funnel — the per-domain report a "
    "training-data pipeline publishes for every crawl snapshot: "
    "documents in, after exact dedup (dedup_exact's min-doc_id "
    "survivor rule), after the quality gate (text_quality_score's "
    "length+stopword predicate in cross-multiplied INTEGER form — "
    "n_stop*100 >= n_tokens, no float boundary), after eval-set "
    "decontamination (eval_decontaminate_exact_ngrams' 13-gram "
    "broadcast rule, doc_id % 53 == 0 playing the eval set), and the "
    "token count the surviving set contributes. Stages are "
    "SEQUENTIAL (each counts the docs passing it AND every earlier "
    "gate), so each row is a monotone funnel — the drop between "
    "columns is each stage's cost, the last column is what you train "
    "on. 100 TB shape: the dedup flag is one digest-keyed aggregate "
    "+ join-back (32-byte shuffle width), the quality flag is "
    "map-only, the decontam flag reuses the broadcast-gram semijoin "
    "(corpus text never shuffles), and the funnel itself is ONE "
    "|domains|-bounded aggregate.",
)
def corpus_yield_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _MERSENNE,
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    train = docs.filter(F.col("doc_id") % _YF_EVAL_MOD != 0).select(
        "doc_id",
        "source",
        "text",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda w: w.isin(STOPWORDS))).alias("n_stop"),
        F.md5(F.encode("text", "utf-8")).alias("h"),
    )
    survivors = train.groupBy("h").agg(F.min("doc_id").alias("keep_id"))

    def grams(df: DataFrame) -> DataFrame:
        tk = df.select("doc_id", F.split("text", " ").alias("ws")).filter(
            F.size("ws") >= _YF_N
        )
        g = lambda i: F.pmod(  # noqa: E731
            portable_hash60(F.concat_ws(" ", F.slice(F.col("ws"), i, _YF_N))),
            F.lit(_MERSENNE),
        )
        return tk.select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(1), F.size("ws") - (_YF_N - 1)), g)
            ).alias("g"),
        )

    eval_grams = (
        grams(docs.filter(F.col("doc_id") % _YF_EVAL_MOD == 0))
        .select("g")
        .distinct()
    )
    hits = (
        grams(train.select("doc_id", "text"))
        .join(F.broadcast(eval_grams), "g")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    flagged = (
        train.join(survivors, "h")
        .join(hits, "doc_id", "left")
        .select(
            "source",
            "n_tokens",
            (F.col("doc_id") == F.col("keep_id")).alias("survives_dedup"),
            (
                (F.col("n_tokens") >= _YF_MIN_TOKENS)
                & (F.col("n_stop") * 100 >= F.col("n_tokens") * _YF_STOP_PCT)
            ).alias("passes_quality"),
            F.col("hit").isNull().alias("clean"),
        )
    )
    keep2 = F.col("survives_dedup") & F.col("passes_quality")
    keep3 = keep2 & F.col("clean")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_raw"),
            F.sum(F.when(F.col("survives_dedup"), 1).otherwise(0))
            .cast("long")
            .alias("n_after_dedup"),
            F.sum(F.when(keep2, 1).otherwise(0))
            .cast("long")
            .alias("n_after_quality"),
            F.sum(F.when(keep3, 1).otherwise(0))
            .cast("long")
            .alias("n_after_decontam"),
            F.sum(F.when(keep3, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_out"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# c4_line_filters
# --------------------------------------------------------------------

_C4_LINE_W = 10  # tokens per pseudo-line (the registry's line unit)
_C4_MIN_LINE_WORDS = 5  # C4: keep only lines with >= 5 words
_C4_MIN_KEPT_LINES = 3  # C4: drop docs with < 3 surviving lines
_C4_BAD_TOKEN = "javascript"  # C4: drop lines containing this word
_C4_PHRASE = "lorem ipsum"  # C4: drop docs containing this phrase
_C4_PLANT_MOD = 31  # every 31st doc seeds one plant per family
_C4_JS_OFFSET = 600_000_000  # planted js-line twins
_C4_LOREM_OFFSET = 610_000_000  # planted lorem-ipsum docs
_C4_BRACE_OFFSET = 620_000_000  # planted curly-brace docs

# the three planted pseudo-lines, exactly _C4_LINE_W tokens each so the
# plant's line grid is unambiguous on both engines
_C4_JS_LINE = "javascript pad pad pad pad pad pad pad pad pad"
_C4_LOREM_LINE = "lorem ipsum dolor sit amet pad pad pad pad pad"
_C4_BRACE_LINE = "{code} pad pad pad pad pad pad pad pad pad"


def _c4_oracle() -> str:
    w = _C4_LINE_W
    lines = (
        f"list_transform(range(0, (len(ws) + {w - 1}) // {w}),"
        f" i -> ws[i * {w} + 1 : i * {w} + {w}])"
    )
    return f"""
    WITH plants AS (
      SELECT doc_id + {_C4_JS_OFFSET} AS doc_id,
             array_to_string(string_split(text, ' ')[1:{w}], ' ')
               || ' {_C4_JS_LINE} '
               || array_to_string(string_split(text, ' ')[1:{w}], ' ')
               || ' '
               || array_to_string(string_split(text, ' ')[1:{w}], ' ')
               AS text
      FROM documents WHERE doc_id % {_C4_PLANT_MOD} = 0
      UNION ALL
      SELECT doc_id + {_C4_LOREM_OFFSET},
             array_to_string(string_split(text, ' ')[1:{w}], ' ')
               || ' {_C4_LOREM_LINE} '
               || array_to_string(string_split(text, ' ')[1:{w}], ' ')
      FROM documents WHERE doc_id % {_C4_PLANT_MOD} = 0
      UNION ALL
      SELECT doc_id + {_C4_BRACE_OFFSET},
             array_to_string(string_split(text, ' ')[1:{w}], ' ')
               || ' {_C4_BRACE_LINE} '
               || array_to_string(string_split(text, ' ')[1:{w}], ' ')
      FROM documents WHERE doc_id % {_C4_PLANT_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM plants
    ),
    lined AS (
      SELECT doc_id, text, {lines} AS lines
      FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM corpus)
    ),
    classed AS (
      SELECT doc_id, text, lines,
             list_filter(lines, l -> len(l) >= {_C4_MIN_LINE_WORDS}
               AND len(list_filter(l, t -> t = '{_C4_BAD_TOKEN}')) = 0)
               AS kept
      FROM lined
    ),
    scored AS (
      SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS kept_lines,
             CAST(len(list_filter(lines,
               l -> len(l) < {_C4_MIN_LINE_WORDS})) AS BIGINT)
               AS dropped_short,
             CAST(len(list_filter(lines,
               l -> len(l) >= {_C4_MIN_LINE_WORDS}
               AND len(list_filter(l, t -> t = '{_C4_BAD_TOKEN}')) > 0))
               AS BIGINT) AS dropped_js,
             (NOT contains(text, '{{')
              AND NOT contains(text, '{_C4_PHRASE}')
              AND len(kept) >= {_C4_MIN_KEPT_LINES}) AS doc_keep,
             CAST(len(flatten(kept)) AS BIGINT) AS n_tokens_kept,
             array_to_string(flatten(kept), ' ') AS clean
      FROM classed
    )
    SELECT doc_id, n_lines, kept_lines, dropped_short, dropped_js,
           doc_keep, n_tokens_kept,
           CASE WHEN doc_keep THEN md5(clean) END AS clean_md5
    FROM scored
    ORDER BY doc_id
    """


@register(
    "c4_line_filters",
    _c4_oracle(),
    doc="C4 line-level cleanup heuristics (Raffel et al. 2020 §2.2 — "
    "the published T5-corpus rules, on the registry's fixed 10-token "
    "pseudo-line unit since the fixture corpus has no newlines): a "
    "line survives iff it has >= 5 words and does not contain the "
    "word 'javascript'; the document survives iff its text contains "
    "no curly brace and not the phrase 'lorem ipsum' and at least 3 "
    "lines survive. Emits per-doc line diagnostics (total/kept/"
    "dropped-short/dropped-js), the keep flag, the surviving token "
    "count, and the md5 of the reassembled cleaned text (byte "
    "evidence that both engines strip IDENTICAL spans). Planted "
    "witnesses per family: a javascript-line twin (drops exactly that "
    "line, keeps the doc), a lorem-ipsum doc and a curly-brace doc "
    "(both die wholesale) — every plant's line grid is built from "
    "exact 10-token lines so the pseudo-line split is unambiguous. "
    "All thresholds are integer comparisons on list lengths; no float "
    "exists anywhere. 100 TB shape: ZERO shuffle — one map-side pass "
    "of array expressions per document (the same contract as "
    "gopher_repetition_filters' line family); per-doc arrays bound "
    "memory at the longest document.",
)
def c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    l1 = F.concat_ws(" ", F.slice(F.split("text", " "), 1, _C4_LINE_W))
    seeds = docs.filter(F.col("doc_id") % _C4_PLANT_MOD == 0)
    plants = (
        seeds.select(
            (F.col("doc_id") + _C4_JS_OFFSET).alias("doc_id"),
            F.concat_ws(
                " ", l1, F.lit(_C4_JS_LINE), l1, l1
            ).alias("text"),
        )
        .unionByName(
            seeds.select(
                (F.col("doc_id") + _C4_LOREM_OFFSET).alias("doc_id"),
                F.concat_ws(" ", l1, F.lit(_C4_LOREM_LINE), l1).alias("text"),
            )
        )
        .unionByName(
            seeds.select(
                (F.col("doc_id") + _C4_BRACE_OFFSET).alias("doc_id"),
                F.concat_ws(" ", l1, F.lit(_C4_BRACE_LINE), l1).alias("text"),
            )
        )
    )
    # one small parquet split would serialize the per-doc array folds
    # on a single core; no-op on a real many-split corpus
    corpus = fan_out(docs.unionByName(plants))

    w = _C4_LINE_W
    lined = corpus.select(
        "doc_id",
        "text",
        F.expr(
            f"transform(sequence(0, (size(split(text, ' ')) + {w - 1})"
            f" div {w} - 1),"
            f" i -> slice(split(text, ' '), i * {w} + 1, {w}))"
        ).alias("lines"),
    )
    is_short = f"size(l) < {_C4_MIN_LINE_WORDS}"
    has_js = f"exists(l, t -> t = '{_C4_BAD_TOKEN}')"
    classed = lined.select(
        "doc_id",
        "text",
        "lines",
        F.expr(
            f"filter(lines, l -> NOT ({is_short}) AND NOT ({has_js}))"
        ).alias("kept"),
    )
    doc_keep = (
        ~F.col("text").contains("{")
        & ~F.col("text").contains(_C4_PHRASE)
        & (F.size("kept") >= _C4_MIN_KEPT_LINES)
    )
    clean = F.concat_ws(" ", F.flatten("kept"))
    return classed.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("kept_lines"),
        F.expr(f"size(filter(lines, l -> {is_short}))")
        .cast("long")
        .alias("dropped_short"),
        F.expr(
            f"size(filter(lines, l -> NOT ({is_short}) AND {has_js}))"
        )
        .cast("long")
        .alias("dropped_js"),
        doc_keep.alias("doc_keep"),
        F.size(F.flatten("kept")).cast("long").alias("n_tokens_kept"),
        F.when(doc_keep, F.md5(F.encode(clean, "utf-8"))).alias("clean_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# hot_ngram_blocklist_coverage
# --------------------------------------------------------------------

_HB_N = 3  # trigrams — the corpus-boilerplate unit
_HB_K = 20  # blocklist size: the K hottest trigrams corpus-wide
_HB_FLAG_PCT = 10  # flag docs with >= 10% of positions blocklisted


def _hot_ngram_oracle() -> str:
    n = _HB_N
    return f"""
    WITH tg AS (
      SELECT doc_id, UNNEST(
        list_transform(range(1, len(ws) - {n - 2}),
                       i -> array_to_string(ws[i:i + {n - 1}], ' '))
      ) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      WHERE len(ws) >= {n}
    ),
    cnt AS (SELECT gram, COUNT(*) AS c FROM tg GROUP BY gram),
    top AS (
      SELECT gram FROM (
        SELECT gram, ROW_NUMBER() OVER (ORDER BY c DESC, gram ASC) AS rn
        FROM cnt
      ) WHERE rn <= {_HB_K}
    ),
    per AS (
      SELECT tg.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits
      FROM tg LEFT JOIN top t ON tg.gram = t.gram
      GROUP BY tg.doc_id
    )
    SELECT doc_id, n_grams, n_hits,
           {sql_round_div('n_hits', 'n_grams')} AS hit_frac,
           (n_hits * 100 >= n_grams * {_HB_FLAG_PCT}) AS flagged
    FROM per
    ORDER BY doc_id
    """


@register(
    "hot_ngram_blocklist_coverage",
    _hot_ngram_oracle(),
    doc="corpus-level boilerplate n-gram blocklist coverage (the "
    "Dodge et al. 2021 'Documenting C4' analysis shape): the K=20 "
    "globally most frequent trigrams form a blocklist under the "
    "total order (count DESC, gram ASC), and every document reports "
    "how many of its trigram positions the blocklist covers plus a "
    "flag at the integer cross-multiplied 10% threshold "
    "(n_hits*100 >= n_grams*10 — no float boundary). The corpus-wide "
    "complement of gopher_repetition_filters' within-doc n-gram "
    "modes and boilerplate_sentence_removal's sentence-digest df "
    "gate: template/navigation-heavy pages light up on corpus-hot "
    "sub-sentence units that per-doc statistics cannot see. 100 TB "
    "shape: one gram-keyed shuffle with map-side combine (the count), "
    "a K-bounded TakeOrderedAndProject (never a full sort), the "
    "K-row blocklist broadcast back over a second map-side pass, and "
    "one doc-keyed aggregate; the corpus text itself never shuffles.",
)
def hot_ngram_blocklist_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    n = _HB_N
    # fan_out: the gram build + explode otherwise runs on the single
    # scan split of the small fixture file; no-op on a real corpus
    grams = (
        fan_out(docs).select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(ws, i, {n})))"
                )
            ).alias("gram"),
        )
    )
    top = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("gram"))
        .limit(_HB_K)
        .select("gram", F.lit(True).alias("hot"))
    )
    per = (
        grams.join(F.broadcast(top), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("hot"), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_hits",
        round_div(F.col("n_hits"), F.col("n_grams")).alias("hit_frac"),
        (F.col("n_hits") * 100 >= F.col("n_grams") * _HB_FLAG_PCT).alias(
            "flagged"
        ),
    ).orderBy("doc_id")
