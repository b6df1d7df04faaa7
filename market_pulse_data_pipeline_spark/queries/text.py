"""Text-analysis operators over the `documents` table (north-star
extension, SURVEY §7 phase 6): token counting, quality scoring,
language-ID heuristic, document fingerprinting. All built from JVM-side
collection functions (split / size / filter / posexplode) — no Python
UDFs in the hot path.

- ``lang_id_rank_profile`` — heuristic language identification by
  character-n-gram rank profiles (Cavnar & Trenkle 1994, the classic
  deterministic lang-ID): per-language top-K trigram rank profiles are
  fit on a labeled seed partition, every document is classified by the
  out-of-place rank distance, integer-exact end to end. The registry
  consumes a ``lang`` column in a dozen operators but never PRODUCES
  one; this is the producer.
- ``html_tag_strip_extract`` — the WET-extraction step every crawl
  pipeline runs BEFORE any of the registered text operators see a
  byte: HTML → text (drop comments / script / style blocks, strip
  tags, decode entities, collapse whitespace). Distinct from
  ``boilerplate_sentence_removal`` (cross-document repeated-sentence
  removal on already-extracted text). Markup is synthesized
  deterministically from each doc (the house planting idiom): every
  token gets its own <p>, with script / style / comment decoys
  injected by doc_id residue whose payloads must NOT survive, plus an
  entity footer that witnesses the strip-tags-BEFORE-decode-entities
  ordering (``&lt;b&gt;`` must come out as literal ``<b>`` text, which
  a decode-first extractor would strip). The round-trip equality
  column proves extraction is lossless on the content.
- ``unicode_fold_normalize`` — the text-normalization pass every
  corpus pipeline runs before tokenization (the ftfy/NFKC step):
  curly quotes → straight, en/em dashes → hyphen, NBSP → space,
  zero-width chars removed, ellipsis → dots, fi/fl ligatures
  expanded, a small explicit accent-fold set. The mapping is ONE
  ordered (from → to) table shared verbatim by both engines —
  deliberately a table subset, not a full ICU NFKC (production swaps
  the table for the ICU data file; the PIPELINE shape — an ordered
  replace chain, map-only — is what this witnesses). Planted suffixes
  by doc_id residue exercise every rule family, with a no-op control
  residue.
- ``sentence_lang_mix_profile`` — code-switching detection: the
  registered doc-level heuristics (lang_id_heuristic,
  lang_id_rank_profile) assign ONE language per document, but
  multilingual corpora carry documents that switch language
  mid-stream — exactly the docs a per-language training mixture
  misroutes. Classifies each 10-token pseudo-sentence (the
  boilerplate/sentence-dedup unit) with the stopword-marker rule in
  exact cross-multiplied form (20·n_stop >= n_tokens, no float
  ratio), then profiles the per-document mix. Planted PREPENDED
  sentences (grid-preserving, the boilerplate idiom) force one
  guaranteed minority sentence per residue family.
- ``token_spans_offsets`` — span-preserving tokenization: tokens with
  exact (start, end) character offsets into the ORIGINAL text, the
  substrate every span-level operation needs (PII redaction spans,
  exact-substring cuts, annotation alignment) and that plain
  split()-based tokenization destroys. Offsets come from a per-doc
  prefix sum (partitioned window — per-document state, no global
  sort); the ``ok`` column re-slices the original text at each span
  and MUST equal the token, making the contract self-witnessing.
- ``gazetteer_phrase_match`` — dictionary/gazetteer span matching
  (the Aho-Corasick workload, NER-by-dictionary): multi-token phrases
  located by their RAREST token as the anchor (chosen from corpus
  document frequencies, engine-side, deterministically) — the
  standard trick that makes a million-phrase gazetteer joinable: the
  anchor equi-join emits candidates proportional to the RARE token's
  frequency, not the common ones', and only candidates pay the
  token-slice verification. Distinct from trigram_substring_index
  (character-level containment COUNTS): this extracts token-aligned
  occurrences with their positions, the shape span annotation needs.
- ``flashtext_multi_replace`` — ``gazetteer_phrase_match``'s mutation
  twin and the FlashText workload ("Replace or Retrieve Keywords in
  Documents at Scale", Singh 2017): rewrite every occurrence of a
  multi-token phrase dictionary as canonical entity tokens, the
  anonymize/canonicalize pass corpus pipelines run before training.
  Token-aligned WITHOUT regex (no cross-engine regex semantics in the
  compared bytes): internal spaces are doubled so every token owns a
  delimiter on each side — adjacent occurrences cannot steal each
  other's boundary space — then each phrase is one plain
  replace-all, applied longest-phrase-first so nested phrases
  ('part window' inside 'merge part window') resolve to the longest
  match, and the text re-collapses through a filter/join fold.
  Per-phrase replacement counts come from pure length algebra
  ((len_before - len_after) / (len_pat - len_rep)) — exact integers,
  no second scan. Map-only: the dictionary is a model-sized literal
  chain, zero joins, zero shuffles.
- ``pmi_collocation_mining`` — phrase DISCOVERY (the word2phrase
  score of Mikolov et al. 2013, "Distributed Representations of
  Words and Phrases"): score(a,b) = (count(ab) − δ)·N /
  (count(a)·count(b)), accept above a threshold — the step that
  builds multi-word vocabulary entries and feeds gazetteers
  (gazetteer_phrase_match and flashtext_multi_replace CONSUME a
  phrase table; nothing registered DISCOVERS one). The accept flag
  is an exact cross-multiplied integer comparison through
  DECIMAL(38,0) products (overflow-safe at any corpus size); the
  reported score goes through the shared decimal rounding route.
  Planted suffix bigrams per doc_id residue (the house idiom) give
  true collocations — tokens that co-occur far above independence —
  while the fixture's near-uniform natural bigrams (score ≈ 1.3)
  witness rejection; the shared 'qq' anchor in both plants exercises
  the marginal-count discount.
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

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
_FP_MOD = 1_000_000_007
_NTOK = "len(string_split(text, ' '))"
_NSTOP = f"len(list_filter(string_split(text, ' '), w -> w IN ({_SW_SQL})))"


@register(
    "text_token_count",
    """
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
    FROM documents
    """,
    doc="token counting (whitespace tokenizer) — F.size(F.split(...))",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))


@register(
    "text_quality_score",
    f"""
    SELECT doc_id,
           CAST({_NTOK} AS INTEGER) AS n_tokens,
           {sql_round_div(f"(length(text) - {_NTOK} + 1) * 1.0", _NTOK, 4)}
             AS avg_token_len,
           {sql_round_div(f"{_NSTOP} * 1.0", _NTOK, 4)} AS stopword_ratio,
           CASE WHEN {_NTOK} >= 20
                 AND {_NSTOP} * 1.0 / {_NTOK} >= 0.01
                THEN 'keep' ELSE 'filter' END AS quality_label
    FROM documents
    """,
    doc="quality scoring: length / avg token length / stopword ratio + "
    "keep-filter label, all computed JVM-side",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS)))
    avg_len = round_div((F.length("text") - n_tokens + 1) * F.lit(1.0), n_tokens, 4)
    stop_ratio = round_div(n_stop * F.lit(1.0), n_tokens, 4)
    label = F.when(
        (n_tokens >= 20) & (n_stop * F.lit(1.0) / n_tokens >= 0.01), "keep"
    ).otherwise("filter")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        label.alias("quality_label"),
    )


@register(
    "text_lang_stats",
    f"""
    SELECT lang, COUNT(*) AS n_docs,
           {sql_round_div('CAST(SUM(n_chars) AS DOUBLE)', 'COUNT(*)', 4)}
             AS avg_chars
    FROM documents GROUP BY lang
    """,
    doc="per-language corpus stats (exact integer sums → deterministic avg)",
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_div(F.sum("n_chars").cast("double"), F.count(F.lit(1)), 4).alias(
            "avg_chars"
        ),
    )


@register(
    "lang_id_heuristic",
    f"""
    SELECT doc_id, lang,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     w -> w IN ({_SW_SQL}))) * 1.0
                     / len(string_split(text, ' ')) >= 0.05
                THEN 'en' ELSE 'other' END AS lang_pred
    FROM documents
    """,
    doc="language-ID heuristic (stopword-marker ratio) — content-based, "
    "independent of the stored lang label",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ratio = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS))) * F.lit(1.0) / F.size(toks)
    return docs.select(
        "doc_id",
        "lang",
        F.when(ratio >= 0.05, "en").otherwise("other").alias("lang_pred"),
    )


@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           CAST(SUM(ord * length(word)) % {_FP_MOD} AS BIGINT) AS fingerprint
    FROM (
      SELECT doc_id,
             UNNEST(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS ord
      FROM documents) u
    GROUP BY doc_id
    """,
    doc="position-weighted document fingerprint (rolling-hash flavor) — "
    "order-sensitive, exact integer arithmetic; map-only since the "
    "round-9 rewrite (a 2-arg transform (element, index) + one "
    "aggregate() fold replaces the posexplode + doc-keyed sum).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # per-document position-weighted sum — map-side fold over the
    # 2-arg transform (element, index), no explode/groupBy exchange
    # (round-9 rewrite; oracle hashes unchanged). The raw sum is
    # bounded by n_tokens^2 * max_word_len, far inside int64 even for
    # million-token documents.
    weighted = (
        "aggregate(transform(split(text, ' '),"
        " (w, i) -> (CAST(i AS BIGINT) + 1) * length(w)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return docs.select(
        "doc_id",
        (F.expr(weighted) % _FP_MOD).cast("long").alias("fingerprint"),
    )


_BPE_PATTERN = r"[a-z]+|[A-Z][a-z]*|[0-9]{1,3}|[^A-Za-z0-9\s]"


@register(
    "text_bpe_token_estimate",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INTEGER)
             AS bpe_tokens,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens
    FROM documents
    """,
    doc="BPE-ish token estimation via a subword regex (word pieces, "
    "number chunks, punctuation) next to the whitespace count — pattern "
    "kept in the RE2∩Java common subset",
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # pattern passed as a Column literal, NOT through F.expr — Spark SQL
    # string literals process backslash escapes ('\s' → 's'), silently
    # corrupting the regex; DuckDB literals don't
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)
        ).alias("bpe_tokens"),
        F.size(F.split("text", " ")).alias("ws_tokens"),
    )


@register(
    "multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           sha256(text) AS content_sha
    FROM documents
    """,
    doc="multimodal plumbing: opaque binary column + typed metadata "
    "(byte length, content hash); the decode path lives in "
    "functions.multimodal as a mapInPandas stub",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    binary = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(binary).alias("n_bytes"),
        F.sha2(binary, 256).alias("content_sha"),
    )


# --- repetition / contamination / PII (LLM-pipeline quality operators) --------


@register(
    "text_repetition_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
      SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w
    ), agg AS (
      SELECT doc_id, MAX(c) AS top_freq, COUNT(*) AS n_distinct,
             SUM(c) AS n_tokens
      FROM freq GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           {sql_round_div('top_freq * 1.0', 'n_tokens', 4)} AS top_token_ratio,
           {sql_round_div('n_distinct * 1.0', 'n_tokens', 4)} AS distinct_ratio,
           CASE WHEN top_freq * 1.0 / n_tokens > 0.2
                  OR n_distinct * 1.0 / n_tokens < 0.3
                THEN 'repetitive' ELSE 'ok' END AS repetition_label
    FROM agg
    """,
    doc="repetition-based quality scoring (the Gopher-rule family): "
    "most-frequent-token ratio and distinct-token ratio per document, "
    "with a keep/filter label. ZERO shuffle since the round-9 rewrite: "
    "every stat is per-document, so the mode count is a per-doc "
    "array_sort + longest-equal-run aggregate() fold and the distinct "
    "count is array_distinct — one map-side projection end to end "
    "(previously an explode + two doc-keyed hash aggregates).",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.scalars import (  # noqa: PLC0415
        longest_run_count,
    )

    docs = t(spark, sf_dir, "documents")
    # all three stats are per-document, so the whole operator is ONE
    # map-side projection (round-9 rewrite; previously an explode +
    # two doc-keyed hash aggregates): token count and distinct count
    # are array expressions, and the mode count is the sorted-run fold
    # — zero exchanges, same bytes (oracle hashes unchanged)
    agg = docs.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
    ).select(
        "doc_id",
        longest_run_count("ws").alias("top_freq"),
        F.size(F.array_distinct("ws")).alias("n_distinct"),
        F.size("ws").alias("n_tokens"),
    )
    rep = (F.col("top_freq") * 1.0 / F.col("n_tokens") > 0.2) | (
        F.col("n_distinct") * 1.0 / F.col("n_tokens") < 0.3
    )
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        round_div(F.col("top_freq") * 1.0, F.col("n_tokens"), 4).alias(
            "top_token_ratio"
        ),
        round_div(F.col("n_distinct") * 1.0, F.col("n_tokens"), 4).alias(
            "distinct_ratio"
        ),
        F.when(rep, "repetitive").otherwise("ok").alias("repetition_label"),
    )


_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
_PII_ID = "[0-9]{6,}"


@register(
    "text_pii_scan",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER)
             AS n_email_like,
           CAST(len(regexp_extract_all(text, '{_PII_ID}')) AS INTEGER)
             AS n_long_digit_runs,
           (len(regexp_extract_all(text, '{_PII_EMAIL}')) > 0
             OR len(regexp_extract_all(text, '{_PII_ID}')) > 0) AS pii_flag
    FROM documents
    """,
    doc="PII-pattern scan (email-like tokens, long digit runs) — the "
    "redaction-candidate pre-filter of a training-data pipeline. "
    "Patterns restricted to syntax with identical semantics in Java "
    "regex and RE2 so the oracle matches byte-for-byte; counts per "
    "document, map-only.",
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_email = F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0)))
    n_digits = F.size(F.regexp_extract_all("text", F.lit(_PII_ID), F.lit(0)))
    return docs.select(
        "doc_id",
        n_email.alias("n_email_like"),
        n_digits.alias("n_long_digit_runs"),
        ((n_email > 0) | (n_digits > 0)).alias("pii_flag"),
    )


_CONTAM_N = 5  # n-gram order for decontamination
_BENCH_MOD = 17  # doc_id % 17 == 0 plays the "held-out benchmark" role


@register(
    "contamination_ngram_overlap",
    f"""
    WITH corpus AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % {_BENCH_MOD} <> 0
    ), bench AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % {_BENCH_MOD} = 0
    ), corpus_grams AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(range(1, len(ws) - {_CONTAM_N - 2}),
               i -> list_aggregate(list_slice(ws, i, i + {_CONTAM_N - 1}),
                                   'string_agg', ' '))) AS g
      FROM corpus WHERE len(ws) >= {_CONTAM_N}
    ), bench_grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(ws) - {_CONTAM_N - 2}),
                 i -> list_aggregate(list_slice(ws, i, i + {_CONTAM_N - 1}),
                                     'string_agg', ' '))) AS g
        FROM bench WHERE len(ws) >= {_CONTAM_N})
    )
    SELECT c.doc_id AS corpus_doc_id, b.doc_id AS bench_doc_id,
           COUNT(*) AS shared_ngrams
    FROM corpus_grams c JOIN bench_grams b ON c.g = b.g
    GROUP BY 1, 2
    """,
    doc="train/test contamination detection: corpus documents sharing "
    "any 5-gram with a held-out benchmark set (doc_id % 17 == 0 plays "
    "the benchmark role), with the shared-gram count per (corpus, bench) "
    "pair. Inverted-index equi-join on the n-gram — at 100 TB the "
    "benchmark gram set is small and broadcast, so the corpus-side scan "
    "is map-only; the same df-cap guard as near-dup applies if benchmark "
    "grams are stop-phrases.",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n = _CONTAM_N

    def grams(df: DataFrame) -> DataFrame:
        toks = df.select("doc_id", F.split("text", " ").alias("ws")).filter(
            F.size("ws") >= n
        )
        g = F.transform(
            F.sequence(F.lit(0), F.size("ws") - n),
            lambda i: F.concat_ws(" ", *[F.col("ws")[i + j] for j in range(n)]),
        )
        return toks.select("doc_id", F.explode(g).alias("g")).distinct()

    corpus = grams(docs.filter(F.col("doc_id") % _BENCH_MOD != 0))
    bench = grams(docs.filter(F.col("doc_id") % _BENCH_MOD == 0))
    return (
        corpus.alias("c")
        .join(F.broadcast(bench.alias("b")), F.col("c.g") == F.col("b.g"))
        .groupBy(
            F.col("c.doc_id").alias("corpus_doc_id"),
            F.col("b.doc_id").alias("bench_doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


_STRATUM_K = 40  # docs kept per language class
_PACK_BUDGET = 512  # token budget per packed sequence


@register(
    "stratified_sample_per_lang",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents)
    WHERE rn <= {_STRATUM_K}
    """,
    doc="deterministic stratified sampling (class balancing for training "
    "mixes): keep K documents per language, ordered by a content-free "
    "md5 of the id so the sample is pseudo-random yet reproducible on "
    "any engine — no RNG state, no sampleBy fraction drift. One window "
    "per class partition; at scale this is a single shuffle on lang "
    "(salt the window key if one class dominates).",
)
def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _STRATUM_K)
        .select("doc_id", "lang")
    )


@register(
    "token_budget_packing",
    f"""
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((cum_tokens - n_tokens) / {_PACK_BUDGET}) AS BIGINT)
             AS pack_id
    FROM (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             SUM(len(string_split(text, ' '))) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM documents)
    """,
    doc="token-budget sequence packing (assembling training examples "
    "into fixed context windows): per language, documents in id order "
    "receive a running token count and pack_id = floor(preceding-"
    "tokens / budget) — the deterministic relational form of greedy "
    "packing. One window shuffle on the class key; the pack assignment "
    "itself is a pure projection of the running sum.",
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        F.floor((F.sum(n_tok).over(w) - n_tok) / _PACK_BUDGET)
        .cast("long")
        .alias("pack_id"),
    )


_KWIC_TERM = "the"
_KWIC_CTX = 3


@register(
    "kwic_concordance",
    f"""
    SELECT doc_id, pos,
           COALESCE(array_to_string(
             list_slice(tk, GREATEST(1, pos - {_KWIC_CTX}), pos - 1),
             ' '), '') AS left_ctx,
           tk[pos] AS term,
           COALESCE(array_to_string(
             list_slice(tk, pos + 1, LEAST(len(tk), pos + {_KWIC_CTX})),
             ' '), '') AS right_ctx
    FROM (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      WHERE doc_id < 50
    ), UNNEST(range(1, len(tk) + 1)) AS u(pos)
    WHERE tk[pos] = '{_KWIC_TERM}'
    """,
    doc="keyword-in-context (KWIC) concordance: every occurrence of a "
    f"term with ±{_KWIC_CTX} tokens of context — the corpus-inspection "
    "view behind data auditing and contamination spot checks. "
    "posexplode over the token array + two slices, all JVM "
    "collection functions; output rows ∝ term frequency, never "
    "tokens, and the term predicate prunes before any slicing.",
)
def kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    tokd = docs.select("doc_id", F.split("text", " ").alias("tk"))
    hits = tokd.select(
        "doc_id",
        "tk",
        F.posexplode("tk").alias("pos0", "term"),
    ).filter(F.col("term") == _KWIC_TERM)
    pos = F.col("pos0") + 1  # 1-based to mirror the SQL slices
    left_start = F.greatest(F.lit(1), pos - _KWIC_CTX)
    return hits.select(
        "doc_id",
        pos.alias("pos"),
        F.array_join(
            F.slice(F.col("tk"), left_start, pos - left_start), " "
        ).alias("left_ctx"),
        F.col("term"),
        F.array_join(
            F.slice(
                F.col("tk"),
                pos + 1,
                F.least(F.size("tk"), pos + _KWIC_CTX) - pos,
            ),
            " ",
        ).alias("right_ctx"),
    )


# --------------------------------------------------------------------
# lang_id_rank_profile
# --------------------------------------------------------------------

_LI_K = 20  # profile length (top-K character trigrams)
_LI_N = 3  # character n-gram order
_LI_SEED_MOD = 10  # doc_id % 10 < 3 plays the labeled seed partition
_LI_SEED_LT = 3

_LI_GRAMS_SQL = (
    "list_transform(range(1, length(text) - 1),"
    " i -> substring(text, i, 3))"
)


def _langid_oracle() -> str:
    return f"""
    WITH dg AS (
      SELECT doc_id, UNNEST({_LI_GRAMS_SQL}) AS g
      FROM documents WHERE length(text) >= {_LI_N}
    ),
    dr AS (
      SELECT doc_id, g, dr FROM (
        SELECT doc_id, g,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g) AS dr
        FROM dg GROUP BY doc_id, g
      ) WHERE dr <= {_LI_K}
    ),
    tg AS (
      SELECT lang, UNNEST({_LI_GRAMS_SQL}) AS g
      FROM documents
      WHERE doc_id % {_LI_SEED_MOD} < {_LI_SEED_LT}
        AND length(text) >= {_LI_N}
    ),
    lr AS (
      SELECT lang, g, lr FROM (
        SELECT lang, g,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, g) AS lr
        FROM tg GROUP BY lang, g
      ) WHERE lr <= {_LI_K}
    ),
    langs AS (SELECT DISTINCT lang FROM lr),
    scored AS (
      SELECT d.doc_id, l.lang,
             SUM(COALESCE(ABS(d.dr - p.lr), {_LI_K})) AS dist
      FROM dr d
      CROSS JOIN langs l
      LEFT JOIN lr p ON p.lang = l.lang AND p.g = d.g
      GROUP BY d.doc_id, l.lang
    ),
    best AS (
      SELECT doc_id, lang AS lang_pred, dist FROM (
        SELECT doc_id, lang, dist,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY dist, lang) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT d.doc_id, d.lang, b.lang_pred,
           CAST(b.dist AS BIGINT) AS oop_distance
    FROM best b JOIN documents d USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "lang_id_rank_profile",
    _langid_oracle(),
    doc="heuristic language identification by character-n-gram rank "
    "profiles (Cavnar & Trenkle 1994 — the classic deterministic "
    "lang-ID): fit a top-20 character-trigram "
    "rank profile per language on a labeled seed partition "
    "(doc_id % 10 < 3), then classify EVERY document by the "
    "out-of-place measure — sum over the doc's own top-20 trigrams "
    "of |doc rank - profile rank|, missing grams costing the maximum "
    "K. Ranks are ROW_NUMBER under the total order (count DESC, gram "
    "ASC) and the distance is an integer sum, so prediction is exact "
    "on both engines — no float anywhere. Unlike lang_id_heuristic "
    "(a binary en/other stopword test), this PRODUCES the lang label "
    "the registry's per-lang operators consume. 100 TB shape: the "
    "language profiles are bounded (|langs| x K rows) and broadcast; "
    "the doc side is one gram-count shuffle with map-side combine + "
    "a doc-keyed top-K window (no global sort), then a "
    "bounded-multiplier (x|langs|) broadcast join and a doc-keyed "
    "argmin.",
)
def lang_id_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    grams = F.explode(
        F.expr(
            f"transform(sequence(1, length(text) - {_LI_N - 1}),"
            f" i -> substring(text, i, {_LI_N}))"
        )
    ).alias("g")
    long_enough = F.length("text") >= _LI_N

    doc_rank = (
        docs.filter(long_enough)
        .select("doc_id", grams)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "dr",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("c").desc(), F.col("g")
                )
            ),
        )
        .filter(F.col("dr") <= _LI_K)
        .select("doc_id", "g", "dr")
    )
    lang_rank = (
        docs.filter(
            (F.col("doc_id") % _LI_SEED_MOD < _LI_SEED_LT) & long_enough
        )
        .select("lang", grams)
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "lr",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.col("c").desc(), F.col("g")
                )
            ),
        )
        .filter(F.col("lr") <= _LI_K)
        .select("lang", "g", "lr")
    )
    langs = lang_rank.select("lang").distinct()
    scored = (
        doc_rank.crossJoin(F.broadcast(langs))
        .join(F.broadcast(lang_rank), ["lang", "g"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("dr") - F.col("lr")), F.lit(_LI_K)
                )
            ).alias("dist")
        )
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("dist", "lang")
        ),
    ).filter(F.col("rn") == 1)
    return (
        best.select(
            "doc_id",
            F.col("lang").alias("lang_pred"),
            F.col("dist").cast("long").alias("oop_distance"),
        )
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "lang_pred", "oop_distance")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# html_tag_strip_extract
# --------------------------------------------------------------------

# extraction patterns — ONE pattern set shared verbatim by both engines
# (Java regex and RE2 agree on this subset: lazy quantifiers, character
# classes; no lookaround, no backrefs). Block patterns run BEFORE the
# generic tag strip so their PAYLOADS die with the tags.
_HT_COMMENT = "<!--.*?-->"
_HT_SCRIPT = "<script[^>]*>.*?</script>"
_HT_STYLE = "<style[^>]*>.*?</style>"
_HT_TAG = "<[^>]+>"
_HT_WS = " {2,}"
# entity decode table, ORDERED: named/numeric entities first, &amp;
# strictly LAST (amp-first would double-decode '&amp;lt;' shapes)
_HT_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]
# decoy payloads that must NOT survive extraction
_HT_SCRIPT_BLOCK = (
    '<script type="text/javascript">var trk = 1; '
    'fire("SHOULD_NOT_SURVIVE");</script>'
)
_HT_STYLE_BLOCK = "<style>.banner{display:none} p{color:red}</style>"
_HT_COMMENT_BLOCK = "<!-- affiliate-id 12345 DROPME -->"
# entity footer: witnesses strip-tags-BEFORE-decode ordering (&lt;b&gt;
# must survive as literal text '<b>', which a decode-first pass strips)
_HT_FOOTER = (
    "<p>entity check: &amp; &lt;b&gt; &quot;q&quot; &#39;s&#39;</p>"
)
_HT_FOOTER_TEXT = " entity check: & <b> \"q\" 's'"


def _html_oracle() -> str:
    footer_sql = _HT_FOOTER_TEXT.replace("'", "''")
    ent_chain = "u4"
    for src, dst in _HT_ENTITIES:
        ent_chain = (
            f"replace({ent_chain}, '{src}', "
            f"'{dst.replace(chr(39), chr(39) * 2)}')"
        )
    return f"""
    WITH raw AS (
      SELECT doc_id,
        '<html><body>'
        || CASE WHEN doc_id % 3 = 0 THEN '{_HT_SCRIPT_BLOCK}' ELSE '' END
        || CASE WHEN doc_id % 4 = 0 THEN '{_HT_STYLE_BLOCK}' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN '{_HT_COMMENT_BLOCK}' ELSE '' END
        || '<p>' || replace(text, ' ', '</p> <p>') || '</p>'
        || '{_HT_FOOTER}'
        || '</body></html>' AS html,
        text
      FROM documents
    ),
    stripped AS (
      SELECT doc_id, text,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          html, '{_HT_COMMENT}', ' ', 'g'),
                '{_HT_SCRIPT}', ' ', 'g'),
                '{_HT_STYLE}', ' ', 'g'),
                '{_HT_TAG}', ' ', 'g') AS u4
      FROM raw
    ),
    decoded AS (
      SELECT doc_id, text,
             trim(regexp_replace({ent_chain}, '{_HT_WS}', ' ', 'g'))
               AS extracted
      FROM stripped
    )
    SELECT doc_id,
           CAST(len(string_split(extracted, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(extracted) AS BIGINT) AS n_chars,
           md5(extracted) AS extract_md5,
           extracted = (text || '{footer_sql}') AS roundtrip_ok
    FROM decoded
    ORDER BY doc_id
    """


@register(
    "html_tag_strip_extract",
    _html_oracle(),
    doc="HTML -> text extraction, the WET step every crawl pipeline "
    "runs before any registered text operator sees a byte: drop "
    "comment / script / style BLOCKS (payload dies with the tags), "
    "strip remaining tags to spaces, decode entities (named + "
    "numeric, &amp; strictly last), collapse whitespace, trim. "
    "Markup is synthesized deterministically per doc (house planting "
    "idiom): every token wrapped in its own <p>, decoy script/style/"
    "comment blocks injected by doc_id residue whose payloads "
    "('SHOULD_NOT_SURVIVE', 'DROPME', css) must vanish, and an "
    "entity footer that pins the strip-tags-BEFORE-decode-entities "
    "ordering — '&lt;b&gt;' must come out as the literal text '<b>'; "
    "a decode-first extractor strips it and flunks the value hash. "
    "The roundtrip_ok column proves extraction is lossless on the "
    "real content (tags only ever ADD bytes). One regex pattern set "
    "shared verbatim (Java regex vs RE2: lazy quantifiers + char "
    "classes only). Distinct from boilerplate_sentence_removal, "
    "which removes cross-document repeated sentences from already-"
    "extracted text. 100 TB shape: map-only JVM regex projection, "
    "zero joins, zero shuffles except the presentation sort — "
    "extraction parallelizes embarrassingly and fuses into one "
    "whole-stage-codegen pass with any downstream filter.",
)
def html_tag_strip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    # fan_out: a 6-deep regex chain per doc on a 1-3 split fixture scan
    # would run single-core; no-op on a real corpus
    docs = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    html = F.concat(
        F.lit("<html><body>"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_HT_SCRIPT_BLOCK)).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 4 == 0, F.lit(_HT_STYLE_BLOCK)).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit(_HT_COMMENT_BLOCK)).otherwise(
            F.lit("")
        ),
        F.lit("<p>"),
        F.regexp_replace(F.col("text"), " ", "</p> <p>"),
        F.lit("</p>"),
        F.lit(_HT_FOOTER),
        F.lit("</body></html>"),
    )
    u = html
    for pat in (_HT_COMMENT, _HT_SCRIPT, _HT_STYLE, _HT_TAG):
        u = F.regexp_replace(u, pat, " ")
    for src, dst in _HT_ENTITIES:
        u = F.replace(u, F.lit(src), F.lit(dst))
    extracted = F.trim(F.regexp_replace(u, _HT_WS, " "))
    return (
        docs.select(
            "doc_id",
            extracted.alias("extracted"),
            F.concat(F.col("text"), F.lit(_HT_FOOTER_TEXT)).alias(
                "expected"
            ),
        )
        .select(
            "doc_id",
            F.size(F.split("extracted", " ")).cast("long").alias(
                "n_tokens"
            ),
            F.length("extracted").cast("long").alias("n_chars"),
            F.md5(F.encode(F.col("extracted"), "utf-8")).alias(
                "extract_md5"
            ),
            (F.col("extracted") == F.col("expected")).alias("roundtrip_ok"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# unicode_fold_normalize
# --------------------------------------------------------------------

# ordered (from, to) fold table — ONE list shared verbatim by both
# engines (and the pytest replay). Order matters only for humans here
# (no rule's output contains another rule's input), but the chain is
# applied strictly in this order everywhere.
_UN_MAP = [
    ("‘", "'"),  # left single curly quote
    ("’", "'"),  # right single curly quote
    ("“", '"'),  # left double curly quote
    ("”", '"'),  # right double curly quote
    ("–", "-"),  # en dash
    ("—", "-"),  # em dash
    (" ", " "),  # no-break space
    ("​", ""),  # zero-width space (removed)
    ("…", "..."),  # horizontal ellipsis
    ("ﬁ", "fi"),  # fi ligature
    ("ﬂ", "fl"),  # fl ligature
    ("é", "e"),  # é
    ("è", "e"),  # è
    ("ü", "u"),  # ü
    ("ñ", "n"),  # ñ
    ("ç", "c"),  # ç
]
# planted suffixes by doc_id % 5 — each residue exercises one rule
# family; residue 4 is the NO-OP control (fixture text is ASCII, so
# its normalized form must equal its raw form)
_UN_SUFFIXES = {
    0: " café rèsumü señor garçon",
    1: " “quoted” ‘single’",
    2: " dash–and—dash…",
    3: " nb sp zero​width ﬁne ﬂow",
    4: "",
}


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _unicode_oracle() -> str:
    suffix_case = " ".join(
        f"WHEN {v} THEN {_sql_quote(sfx)}"
        for v, sfx in _UN_SUFFIXES.items()
        if sfx
    )
    chain = "raw"
    for src, dst in _UN_MAP:
        chain = f"replace({chain}, {_sql_quote(src)}, {_sql_quote(dst)})"
    return f"""
    WITH planted AS (
      SELECT doc_id,
             text || CASE doc_id % 5 {suffix_case} ELSE '' END AS raw
      FROM documents
    ),
    norm AS (
      SELECT doc_id, raw, {chain} AS n FROM planted
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_chars_raw,
           CAST(length(n) AS BIGINT) AS n_chars_norm,
           md5(n) AS norm_md5,
           n <> raw AS changed
    FROM norm
    ORDER BY doc_id
    """


@register(
    "unicode_fold_normalize",
    _unicode_oracle(),
    doc="unicode fold normalization — the ftfy/NFKC-style pass every "
    "corpus pipeline runs before tokenization (curly quotes, en/em "
    "dashes, NBSP, zero-width chars, ellipsis, fi/fl ligatures, an "
    "explicit accent-fold set): an ORDERED replace chain over one "
    "(from, to) table shared verbatim by both engines and the pytest "
    "replay. Deliberately a table SUBSET, not full ICU NFKC — the "
    "witnessed contract is the pipeline shape (ordered map-only "
    "chain, length bookkeeping, changed flag), and production swaps "
    "the table for the ICU data without touching the plan. Planted "
    "suffixes by doc_id residue exercise each rule family; residue 4 "
    "is the no-op control (ASCII text must pass through "
    "byte-identical, changed=false). 100 TB shape: map-only string "
    "projection, zero joins, zero shuffles beyond the presentation "
    "sort — fuses into whole-stage codegen with any downstream "
    "tokenizer or filter.",
)
def unicode_fold_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    suffix = F.lit("")
    for v, sfx in _UN_SUFFIXES.items():
        if sfx:
            suffix = F.when(
                F.col("doc_id") % 5 == v, F.lit(sfx)
            ).otherwise(suffix)
    raw = F.concat(F.col("text"), suffix)
    norm = raw
    for src, dst in _UN_MAP:
        norm = F.replace(norm, F.lit(src), F.lit(dst))
    return (
        docs.select(
            "doc_id", raw.alias("raw"), norm.alias("n")
        )
        .select(
            "doc_id",
            F.length("raw").cast("long").alias("n_chars_raw"),
            F.length("n").cast("long").alias("n_chars_norm"),
            F.md5(F.encode(F.col("n"), "utf-8")).alias("norm_md5"),
            (F.col("n") != F.col("raw")).alias("changed"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# sentence_lang_mix_profile
# --------------------------------------------------------------------

_LM_W = 10  # tokens per pseudo-sentence (the sentence-dedup unit)
_LM_PLANT_MOD = 9  # residues 0 and 3 carry grid-preserving plants
# exactly 10 tokens each, PREPENDED so the original sentence grid
# shifts intact (the boilerplate-banner idiom):
_LM_OTHER_SENT = "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10"  # 0 stopwords
_LM_EN_SENT = "the of and to in the a of and to"  # 10/10 stopwords
_LM_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def _langmix_oracle() -> str:
    return f"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_LM_PLANT_MOD} = 0
                  THEN '{_LM_OTHER_SENT} ' || text
                  WHEN doc_id % {_LM_PLANT_MOD} = 3
                  THEN '{_LM_EN_SENT} ' || text
                  ELSE text END AS text2
      FROM documents
    ),
    sent AS (
      SELECT doc_id,
             list_slice(ws, g.s, g.s + {_LM_W - 1}) AS s
      FROM (SELECT doc_id, string_split(text2, ' ') AS ws FROM src),
           UNNEST(generate_series(1, len(ws), {_LM_W})) AS g(s)
    ),
    cls AS (
      SELECT doc_id,
             (20 * len(list_filter(s, w -> w IN ({_LM_SW_SQL})))
               >= len(s)) AS is_en
      FROM sent
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_sentences,
             CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en,
             CAST(SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS BIGINT)
               AS n_other
      FROM cls GROUP BY doc_id
    )
    SELECT doc_id, n_sentences, n_en, n_other,
           CASE WHEN n_en >= n_other THEN 'en' ELSE 'other' END
             AS majority_lang,
           {sql_round_div('LEAST(n_en, n_other)', 'n_sentences')}
             AS mix_fraction,
           (n_en > 0 AND n_other > 0) AS code_switched
    FROM agg
    ORDER BY doc_id
    """


@register(
    "sentence_lang_mix_profile",
    _langmix_oracle(),
    doc="code-switching detection — the per-SENTENCE language profile "
    "the doc-level classifiers (lang_id_heuristic, "
    "lang_id_rank_profile) cannot express: a document that switches "
    "language mid-stream is exactly the document a per-language "
    "training mixture misroutes, and its doc-level label hides the "
    "minority span. Each 10-token pseudo-sentence (the sentence-"
    "dedup/boilerplate unit) is classified by the stopword-marker "
    "rule in exact cross-multiplied form (20*n_stop >= n_tokens — "
    "the integer twin of the registered >= 0.05 float ratio, so no "
    "rounding boundary exists); the document profile is (n_en, "
    "n_other, majority, minority fraction, code_switched). Planted "
    "PREPENDED sentences — grid-preserving, the boilerplate-banner "
    "idiom — force one guaranteed minority sentence per residue "
    "family (a 0/10-stopword sentence into en-majority docs, a 10/10 "
    "sentence into other-majority docs). 100 TB shape: FULLY map-only "
    "— sentence windowing, per-sentence classification, and the doc "
    "profile are higher-order array folds inside one projection; the "
    "only shuffle is the presentation sort.",
)
def sentence_lang_mix_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    text2 = (
        F.when(
            F.col("doc_id") % _LM_PLANT_MOD == 0,
            F.concat(F.lit(_LM_OTHER_SENT + " "), F.col("text")),
        )
        .when(
            F.col("doc_id") % _LM_PLANT_MOD == 3,
            F.concat(F.lit(_LM_EN_SENT + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    ws = F.split(text2, " ")
    n_sent_expr = F.ceil(F.size(ws) / _LM_W).cast("int")
    sentences = F.transform(
        F.sequence(F.lit(0), n_sent_expr - 1),
        lambda i: F.slice(ws, i * _LM_W + 1, _LM_W),
    )
    is_en = lambda s: (  # noqa: E731
        F.lit(20) * F.size(F.filter(s, lambda w: w.isin(STOPWORDS)))
        >= F.size(s)
    )
    flags = F.transform(sentences, is_en)
    n_en = F.size(F.filter(flags, lambda b: b)).cast("long")
    n_sentences = F.size(flags).cast("long")
    prof = docs.select(
        "doc_id",
        n_sentences.alias("n_sentences"),
        n_en.alias("n_en"),
        (n_sentences - n_en).alias("n_other"),
    )
    return prof.select(
        "doc_id",
        "n_sentences",
        "n_en",
        "n_other",
        F.when(F.col("n_en") >= F.col("n_other"), "en")
        .otherwise("other")
        .alias("majority_lang"),
        round_div(
            F.least("n_en", "n_other"), F.col("n_sentences")
        ).alias("mix_fraction"),
        ((F.col("n_en") > 0) & (F.col("n_other") > 0)).alias(
            "code_switched"
        ),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# token_spans_offsets
# --------------------------------------------------------------------


def _spans_oracle() -> str:
    return """
    WITH tk AS (
      SELECT doc_id, text, u.i AS pos, ws[u.i + 1] AS token
      FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
            FROM documents),
           UNNEST(range(len(ws))) AS u(i)
    ),
    sp AS (
      SELECT doc_id, text, pos, token,
             COALESCE(SUM(length(token) + 1) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS start_off
      FROM tk
    )
    SELECT doc_id,
           CAST(pos AS BIGINT) AS pos,
           token,
           CAST(start_off AS BIGINT) AS start_off,
           CAST(start_off + length(token) AS BIGINT) AS end_off,
           substring(text, CAST(start_off AS INTEGER) + 1,
                     length(token)) = token AS ok
    FROM sp
    ORDER BY doc_id, pos
    """


@register(
    "token_spans_offsets",
    _spans_oracle(),
    doc="span-preserving tokenization — tokens with exact (start, end) "
    "character offsets into the ORIGINAL text, the substrate every "
    "span-level operation needs (PII redaction spans, exact-substring "
    "cut positions, annotation alignment) and that plain split() "
    "destroys. Offsets are a per-document prefix sum over token "
    "lengths (+1 for the separator): a doc_id-PARTITIONED window — "
    "per-document state only, parallel across documents, never a "
    "global sort (the unpartitioned-window antipattern this repo "
    "bans). The ok column re-slices the original text at every span "
    "and must equal the token — the contract is self-witnessing in "
    "the compared bytes, not just in tests. 100 TB shape: one "
    "explode + one doc-partitioned window (both stream per doc; "
    "window state is a single running sum); span arithmetic is "
    "O(tokens) total.",
)
def token_spans_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tk = docs.select(
        "doc_id",
        "text",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sp = tk.select(
        "doc_id",
        "text",
        F.col("pos").cast("long").alias("pos"),
        "token",
        F.coalesce(F.sum(F.length("token") + 1).over(w), F.lit(0))
        .cast("long")
        .alias("start_off"),
    )
    return sp.select(
        "doc_id",
        "pos",
        "token",
        "start_off",
        (F.col("start_off") + F.length("token")).cast("long").alias(
            "end_off"
        ),
        (
            F.expr(
                "substring(text, cast(start_off as int) + 1, "
                "length(token))"
            )
            == F.col("token")
        ).alias("ok"),
    ).orderBy("doc_id", "pos")


# --------------------------------------------------------------------
# gazetteer_phrase_match
# --------------------------------------------------------------------

# fixed literal gazetteer (mixed 2- and 3-token phrases, all present
# at every checked scale factor)
_GZ_PHRASES = [
    "sort merge",
    "hash join",
    "table scan",
    "merge part window",
]


def _gz_oracle() -> str:
    prow = ", ".join(f"('{p}')" for p in _GZ_PHRASES)
    return f"""
    WITH phrases(phrase) AS (VALUES {prow}),
    ptok AS (
      SELECT phrase,
             UNNEST(string_split(phrase, ' ')) AS tok,
             generate_subscripts(string_split(phrase, ' '), 1) - 1
               AS t_off,
             len(string_split(phrase, ' ')) AS plen
      FROM phrases
    ),
    tdf AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY tok
    ),
    anchor AS (
      SELECT phrase, tok AS anchor_tok, t_off AS anchor_off, plen,
             df AS anchor_df
      FROM (
        SELECT p.phrase, p.tok, p.t_off, p.plen, t.df,
               ROW_NUMBER() OVER (PARTITION BY p.phrase
                                  ORDER BY t.df, p.tok, p.t_off) AS rn
        FROM ptok p JOIN tdf t USING (tok)
      ) WHERE rn = 1
    ),
    toks AS (
      SELECT doc_id, u.i AS pos, ws[u.i + 1] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents),
           UNNEST(range(len(ws))) AS u(i)
    ),
    cand AS (
      SELECT a.phrase, a.plen, t.doc_id,
             t.pos - a.anchor_off AS start_pos
      FROM toks t JOIN anchor a ON t.tok = a.anchor_tok
      WHERE t.pos - a.anchor_off >= 0
    ),
    verified AS (
      SELECT c.phrase, c.doc_id, c.start_pos
      FROM cand c
      JOIN (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents) d USING (doc_id)
      WHERE array_to_string(
              list_slice(d.ws, c.start_pos + 1, c.start_pos + c.plen),
              ' ') = c.phrase
    )
    SELECT a.phrase, a.anchor_tok,
           CAST(a.anchor_df AS BIGINT) AS anchor_df,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(v.n, 0) AS BIGINT) AS n_matches,
           CAST(COALESCE(v.nd, 0) AS BIGINT) AS n_docs_matched
    FROM anchor a
    LEFT JOIN (SELECT phrase, COUNT(*) AS n FROM cand GROUP BY 1) c
      USING (phrase)
    LEFT JOIN (SELECT phrase, COUNT(*) AS n,
                      COUNT(DISTINCT doc_id) AS nd
               FROM verified GROUP BY 1) v
      USING (phrase)
    ORDER BY a.phrase
    """


@register(
    "gazetteer_phrase_match",
    _gz_oracle(),
    bench=True,
    doc="dictionary/gazetteer span matching — the Aho-Corasick "
    "workload (NER-by-dictionary, blocklist phrases, entity linking) "
    "done the scale-safe way: each multi-token phrase is located by "
    "its RAREST token as the anchor, chosen ENGINE-side from corpus "
    "document frequencies with a deterministic tiebreak (df, token, "
    "offset) — the standard trick that keeps a million-phrase "
    "gazetteer joinable, because the anchor equi-join emits "
    "candidates proportional to the rare token's frequency, not the "
    "common ones' ('merge part window' anchors on 'window', never on "
    "'part'). Only candidates pay the token-slice verification, "
    "joined back to the document tokens. Per-phrase output exposes "
    "the anchor choice, its df, and the candidate-vs-match funnel in "
    "the compared bytes. Distinct from trigram_substring_index "
    "(character-level containment counts): this is token-ALIGNED "
    "extraction with positions, the substrate span annotation needs. "
    "100 TB shape: one token-df aggregate (map-side combine), a "
    "phrase-table join that is broadcast by construction (gazetteers "
    "are MB-scale), candidate verification joined on doc_id for "
    "candidate docs only — never a corpus-wide scan per phrase.",
)
def gazetteer_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    ws_docs = docs.select("doc_id", F.split("text", " ").alias("ws"))
    ptok = spark.createDataFrame(
        [
            (p, tok, off, len(p.split(" ")))
            for p in _GZ_PHRASES
            for off, tok in enumerate(p.split(" "))
        ],
        ["phrase", "tok", "off", "plen"],
    )
    # df only for the gazetteer's own token vocabulary: the
    # anchor selection joins tdf INNER on tok, so non-phrase tokens can
    # never survive it — filtering before the aggregate shrinks its
    # state and shuffle from |corpus vocabulary| cells to |gazetteer
    # vocabulary| (a million-phrase gazetteer is still MB-scale where
    # a 100 TB corpus vocabulary is not). Local A/B: 1.318 -> 1.280 s
    # min-of-5, identical rows; the win is the scale bound, the local
    # delta just confirms it never regresses.
    vocab = sorted({tok for p in _GZ_PHRASES for tok in p.split(" ")})
    tdf = (
        ws_docs.select("doc_id", F.explode("ws").alias("tok"))
        .filter(F.col("tok").isin(vocab))
        .groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    from pyspark.sql import Window  # noqa: PLC0415

    anchor = (
        ptok.join(tdf, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                # phrase-partitioned: the window is bounded by the
                # gazetteer's own token count
                Window.partitionBy("phrase").orderBy("df", "tok", "off")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "phrase",
            F.col("tok").alias("anchor_tok"),
            F.col("off").alias("anchor_off"),
            "plen",
            F.col("df").cast("long").alias("anchor_df"),
        )
        # materialize-once discipline: anchor is
        # consumed by the candidate join AND the final per-phrase
        # select, and its lineage contains the corpus-wide token-df
        # aggregate — without this the df pass runs twice. The frame
        # is gazetteer-sized (one row per phrase), so the checkpoint
        # is model-sized state; blocks release with the reference.
        .localCheckpoint(eager=True)
    )
    toks = ws_docs.select(
        "doc_id", F.posexplode("ws").alias("pos", "tok")
    )
    cand = (
        toks.join(
            F.broadcast(anchor), toks.tok == anchor.anchor_tok
        )
        .filter(F.col("pos") - F.col("anchor_off") >= 0)
        .select(
            "phrase",
            "plen",
            "doc_id",
            (F.col("pos") - F.col("anchor_off")).alias("start_pos"),
        )
    )
    verified = (
        cand.join(ws_docs, "doc_id")
        .filter(
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("start_pos") + 1, F.col("plen"))
            )
            == F.col("phrase")
        )
        .select("phrase", "doc_id", "start_pos")
    )
    c_agg = cand.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    v_agg = verified.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_m"),
        F.count_distinct("doc_id").cast("long").alias("n_d"),
    )
    z = F.lit(0).cast("long")
    return (
        anchor.select("phrase", "anchor_tok", "anchor_df")
        .join(c_agg, "phrase", "left")
        .join(v_agg, "phrase", "left")
        .select(
            "phrase",
            "anchor_tok",
            "anchor_df",
            F.coalesce("n_c", z).alias("n_candidates"),
            F.coalesce("n_m", z).alias("n_matches"),
            F.coalesce("n_d", z).alias("n_docs_matched"),
        )
        .orderBy("phrase")
    )


# --------------------------------------------------------------------
# flashtext_multi_replace
# --------------------------------------------------------------------

# Applied in THIS order (priority order): nested phrases resolve to
# the longest match because any phrase that CONTAINS another precedes
# it — 'part window' only fires where 'merge part window' did not
# already consume the tokens. All tokens occur in the fixture
# vocabulary (the gazetteer family's phrase pool). The containment
# rule is ENFORCED below, not just documented: a maintainer appending
# a sub-phrase above its super-phrase would silently get
# shortest-wins resolution otherwise.
_FT_PHRASES = [
    "merge part window",
    "part window",
    "table scan",
    "hash join",
    "sort merge",
]

# priority sanity: no earlier-applied phrase may be a token-contiguous
# sub-phrase of a LATER one (the later phrase could never match the
# text the earlier already rewrote)
for _i, _pi in enumerate(_FT_PHRASES):
    for _pj in _FT_PHRASES[_i + 1 :]:
        assert f" {_pi} " not in f" {_pj} ", (
            f"phrase ordering violation: '{_pi}' must come after "
            f"'{_pj}', which contains it"
        )


def _ft_pat(p: str) -> str:
    # doubled internal spaces + one owned delimiter each side: adjacent
    # occurrences cannot steal each other's boundary space
    return " " + p.replace(" ", "  ") + " "


def _ft_rep(i: int) -> str:
    return f" __E{i}__ "


def _ft_oracle() -> str:
    # each step carries every earlier pre-replace length forward, so
    # the chain needs no self-joins: s{i+1} records l{i} = len before
    # replacing phrase i, and the count is the exact length delta over
    # the per-replacement length change (always an exact multiple —
    # every replacement changes the length by len(rep) - len(pat))
    steps = []
    prev = "s0"
    for i, p in enumerate(_FT_PHRASES):
        pat, rep = _ft_pat(p), _ft_rep(i)
        carried = ", ".join(f"l{j}" for j in range(i))
        carried = carried + ", " if carried else ""
        steps.append(
            f"s{i + 1} AS (SELECT doc_id, {carried}len(txt) AS l{i}, "
            f"replace(txt, '{pat}', '{rep}') AS txt FROM {prev})"
        )
        prev = f"s{i + 1}"
    n_cols = ",\n             ".join(
        f"CAST((l{i} - l{i + 1}) // "
        f"{len(_ft_pat(p)) - len(_ft_rep(i))} AS BIGINT) AS n_p{i}"
        for i, p in enumerate(_FT_PHRASES)
    )
    return f"""
    WITH s0 AS (
      SELECT doc_id,
             ' ' || replace(text, ' ', '  ') || ' ' AS txt
      FROM documents
    ),
    {', '.join(steps)},
    final AS (
      SELECT doc_id, l0, l1, l2, l3, l4, len(txt) AS l5,
             array_to_string(
               list_filter(string_split(txt, ' '), x -> x <> ''), ' ')
               AS out_text
      FROM s5
    ),
    counted AS (
      SELECT doc_id, out_text,
             {n_cols}
      FROM final
    )
    SELECT doc_id, n_p0, n_p1, n_p2, n_p3, n_p4,
           n_p0 + n_p1 + n_p2 + n_p3 + n_p4 AS total_repl,
           CAST(len(out_text) AS BIGINT) AS out_len,
           md5(out_text) AS out_md5
    FROM counted
    ORDER BY doc_id
    """


@register(
    "flashtext_multi_replace",
    _ft_oracle(),
    doc="multi-phrase dictionary REPLACE — the FlashText workload "
    "(Singh 2017, 'Replace or Retrieve Keywords in Documents at "
    "Scale') and gazetteer_phrase_match's mutation twin: every "
    "occurrence of each dictionary phrase rewrites to its canonical "
    "entity token, the anonymize/canonicalize pass pipelines run "
    "before training. Token-aligned without regex: internal spaces "
    "double so every token owns a delimiter on each side (adjacent "
    "occurrences cannot consume each other's boundary — pinned), then "
    "each phrase is ONE plain replace-all applied longest-first "
    "(nested 'part window' inside 'merge part window' resolves to the "
    "longest match — pinned), and the text re-collapses via a "
    "filter/join fold. Per-phrase counts are pure length algebra "
    "((len_before - len_after) / (len_pat - len_rep)) — exact "
    "integers in the compared bytes, plus an md5 over the rewritten "
    "text witnessing the full byte stream. 100 TB shape: map-only — "
    "the dictionary is a model-sized literal chain inside one "
    "whole-stage-codegen projection, zero joins, zero shuffles; "
    "production swaps an Aho-Corasick automaton in a pandas_udf when "
    "the gazetteer outgrows literal chaining (same single-pass "
    "contract, same output schema).",
)
def flashtext_multi_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flashtext_multi_replace_from(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


def flashtext_multi_replace_from(docs: DataFrame) -> DataFrame:
    """The full replace chain over a (doc_id, text) frame — shared
    with tools/stress_check.py's ``flashtext_replace`` stage so the
    stress row always measures the shipping shape.

    Mirrors the oracle's length-carrying chain: each select records
    the pre-replace length l{i} as a named column, so the counts use
    integer `div` on named columns (no
    double-divide-then-cast in a compared byte)."""
    cur = docs.select(
        "doc_id",
        F.concat(
            F.lit(" "),
            F.replace(F.col("text"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        ).alias("txt"),
    )
    for i, p in enumerate(_FT_PHRASES):
        pat, rep = _ft_pat(p), _ft_rep(i)
        cur = cur.select(
            "doc_id",
            *[f"l{j}" for j in range(i)],
            F.length("txt").cast("long").alias(f"l{i}"),
            F.replace(F.col("txt"), F.lit(pat), F.lit(rep)).alias("txt"),
        )
    final = cur.select(
        "doc_id",
        *[f"l{j}" for j in range(len(_FT_PHRASES))],
        F.length("txt").cast("long").alias(f"l{len(_FT_PHRASES)}"),
        F.array_join(
            F.filter(F.split("txt", " "), lambda x: x != ""), " "
        ).alias("out_text"),
    )
    n_cols = [
        F.expr(
            f"(l{i} - l{i + 1}) div {len(_ft_pat(p)) - len(_ft_rep(i))}"
        )
        .cast("long")
        .alias(f"n_p{i}")
        for i, p in enumerate(_FT_PHRASES)
    ]
    counted = final.select("doc_id", "out_text", *n_cols)
    return counted.select(
        "doc_id",
        "n_p0",
        "n_p1",
        "n_p2",
        "n_p3",
        "n_p4",
        (
            F.col("n_p0") + F.col("n_p1") + F.col("n_p2") + F.col("n_p3")
            + F.col("n_p4")
        ).alias("total_repl"),
        F.length("out_text").cast("long").alias("out_len"),
        F.md5(F.col("out_text").cast("binary")).alias("out_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# pmi_collocation_mining
# --------------------------------------------------------------------

_PMI_DELTA = 5  # word2phrase discount: kills rare-pair noise
_PMI_MIN = 5  # bigram min count (the df-cap discipline)
# accept when (cab - delta) * N * THETA_DEN > THETA_NUM * ca * cb,
# i.e. score > 2 — above every natural near-uniform bigram (~1.3),
# below every planted collocation
_PMI_THETA_NUM = 2
_PMI_THETA_DEN = 1
# planted suffixes by doc_id residue: 'qq ww' and 'qq zz' are true
# collocations (their tokens never appear apart); the shared 'qq'
# anchor makes the unigram marginal exceed either bigram count
_PMI_MOD_A = 7
_PMI_MOD_B = 11


def _pmi_text_sql() -> str:
    return (
        f"text || CASE WHEN doc_id % {_PMI_MOD_A} = 0 THEN ' qq ww' "
        f"WHEN doc_id % {_PMI_MOD_B} = 0 THEN ' qq zz' ELSE '' END"
    )


def _pmi_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split({_pmi_text_sql()}, ' ') AS ws
      FROM documents
    ),
    uni AS (SELECT UNNEST(ws) AS tok FROM toks),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni),
    uc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok
    ),
    bi AS (
      SELECT ws[i] AS token_a, ws[i + 1] AS token_b
      FROM toks, UNNEST(range(1, len(ws))) AS u(i)
    ),
    bc AS (
      SELECT token_a, token_b, CAST(COUNT(*) AS BIGINT) AS cnt_ab
      FROM bi GROUP BY 1, 2
      HAVING COUNT(*) >= {_PMI_MIN}
    )
    SELECT bc.token_a, bc.token_b, bc.cnt_ab,
           ua.c AS cnt_a, ub.c AS cnt_b,
           {sql_round_div(
               f"(bc.cnt_ab - {_PMI_DELTA}) * n.n",
               "ua.c * ub.c",
           )} AS score,
           CAST(CASE WHEN CAST(bc.cnt_ab - {_PMI_DELTA} AS DECIMAL(38,0))
                          * n.n * {_PMI_THETA_DEN}
                        > CAST({_PMI_THETA_NUM} AS DECIMAL(38,0))
                          * ua.c * ub.c
                     THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM bc
    JOIN uc ua ON ua.tok = bc.token_a
    JOIN uc ub ON ub.tok = bc.token_b
    CROSS JOIN n
    ORDER BY token_a, token_b
    """


@register(
    "pmi_collocation_mining",
    _pmi_oracle(),
    doc="collocation / phrase discovery by the word2phrase score "
    "(Mikolov et al. 2013): score(a,b) = (count(ab) - delta) * N / "
    "(count(a) * count(b)), accept above theta - the step that BUILDS "
    "the phrase tables gazetteer_phrase_match and "
    "flashtext_multi_replace consume. The accept flag is an exact "
    "cross-multiplied comparison with DECIMAL(38,0) products (BIGINT "
    "products overflow at warehouse token counts; the decimal cast is "
    "exact and overflow-safe to 1e38), the reported score one decimal "
    "rounding. The delta discount kills rare-pair noise and the "
    "min-count HAVING bounds the output by real repetition (the "
    "df-cap discipline). Planted residue-keyed suffix bigrams are the "
    "positive witnesses (tokens co-occurring only together); the "
    "fixture's near-uniform natural bigrams (score ~1.3 < theta=2) "
    "witness rejection; the shared plant anchor 'qq' exercises the "
    "marginal discount (its unigram count exceeds either bigram's). "
    "100 TB shape: one map-side bigram explode (arrays_zip of two "
    "slices - no position join), two hash aggregates with map-side "
    "combine, two equi-joins of bigram counts against the unigram "
    "table shuffled on token (vocabulary-keyed, AQE-skew-safe), and a "
    "1-row N broadcast. Output is bounded by bigrams above the min "
    "count - real repetition, never the token stream.",
)
def pmi_collocation_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pmi_collocation_mining_from(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


def pmi_collocation_mining_from(docs: DataFrame) -> DataFrame:
    """The full mining pipeline over a (doc_id, text) frame — shared
    with tools/stress_check.py's ``pmi_mine`` stage so the stress row
    always measures the shipping shape."""
    planted = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % _PMI_MOD_A == 0, F.lit(" qq ww"))
        .when(F.col("doc_id") % _PMI_MOD_B == 0, F.lit(" qq zz"))
        .otherwise(F.lit("")),
    )
    toks = docs.select("doc_id", F.split(planted, " ").alias("ws"))
    uni = toks.select(F.explode("ws").alias("tok"))
    n_tot = uni.agg(F.count(F.lit(1)).cast("long").alias("n"))
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nw = F.size("ws")
    pairs = F.arrays_zip(
        F.slice("ws", 1, nw - 1).alias("a"),
        F.expr("slice(ws, 2, size(ws) - 1)").alias("b"),
    )
    bc = (
        toks.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("token_a"), F.col("p.b").alias("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= _PMI_MIN)
    )
    ua = uc.select(F.col("tok").alias("token_a"), F.col("c").alias("cnt_a"))
    ub = uc.select(F.col("tok").alias("token_b"), F.col("c").alias("cnt_b"))
    dec = "decimal(38,0)"
    joined = (
        bc.join(ua, "token_a")
        .join(ub, "token_b")
        .crossJoin(F.broadcast(n_tot))
    )
    return joined.select(
        "token_a",
        "token_b",
        "cnt_ab",
        "cnt_a",
        "cnt_b",
        round_div(
            (F.col("cnt_ab") - _PMI_DELTA) * F.col("n"),
            F.col("cnt_a") * F.col("cnt_b"),
        ).alias("score"),
        F.when(
            (F.col("cnt_ab") - _PMI_DELTA).cast(dec)
            * F.col("n")
            * _PMI_THETA_DEN
            > F.lit(_PMI_THETA_NUM).cast(dec)
            * F.col("cnt_a")
            * F.col("cnt_b"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("accepted"),
    ).orderBy("token_a", "token_b")
