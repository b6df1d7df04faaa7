"""Corpus quality-filtering operators (Gopher/C4-style rule suites).

The filtering half of a training-data pipeline that queries/text.py's
scoring half feeds: hard rule filters with per-rule diagnostics, PII
redaction (not just detection), character-class profiling, sentence-
level exact dedup inside documents, and an SCD2 history build over the
events stream. Every operator is a pure relational shape (map-only
projection / explode + hash-agg / window), so each hash-checks against
a DuckDB oracle.

None of these exist in the reference (its corpus is 10 stock symbols);
they extend SURVEY §2.6's north-star set. Scale notes per operator.

- ``ccnet_perplexity_buckets`` — CCNet's quality partitioning (Wenzek
  et al., LREC 2020): score every document with a language-model
  signal, split EACH LANGUAGE into head/middle/tail terciles by that
  score, and keep head+middle. The per-language split is the point —
  an absolute threshold would throw away low-resource languages
  wholesale. The LM stands in as the registry's model-free
  ``bigram_fluency_score`` (mean inverse conditional bigram
  probability under the corpus MLE — low = fluent), and the terciles
  are NTILE(3) under a total order (score, doc_id), so bucket
  membership is integer-exact cross-engine: no float percentile
  boundary anywhere.
- ``gopher_repetition_filters`` — Gopher's within-document repetition
  rules (Rae et al. 2021, table A1): duplicate-line fraction,
  duplicate-paragraph fraction, and top-2/3/4-gram coverage, with the
  published keep thresholds (0.30 / 0.30 / 0.20 / 0.18 / 0.16).
  Complements ``exact_substring_spans`` (cross-doc) and
  ``text_repetition_stats`` (token-level): this is the WITHIN-document
  structural-repetition family every production filter stack runs.
- ``eval_decontaminate_fuzzy_minhash`` — fuzzy eval-set
  decontamination (the Llama-report / GPT-4-report shape: flag a
  training doc when its 13-gram shingle set has Jaccard ≥ 0.8 with any
  eval doc). Composes ``eval_decontaminate_exact_ngrams``'s eval-set
  framing with the registered banded-LSH machinery; the oracle is the
  proven band contract (exhaustive exact-Jaccard ≡ LSH candidates
  re-verified exactly, since recall at J ≥ 0.8 under 32 bands × 4 rows
  is total: per-pair miss probability (1-J⁴)³² ≤ 5e-8).
- ``domain_dedup_quality_gate`` — the domain-level drop decision
  (the C4/RefinedWeb "kill the spam farm, not the document" action):
  per source domain, exact-duplicate rate (content digests) and mean
  document length gate the WHOLE domain; planted witnesses are a
  'spamfarm' domain of verbatim copies (dies on dup rate) and a
  'stubfarm' domain of 5-token stubs (dies on quality).
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
- ``eval_decontaminate_semantic`` — the third leg of the
  decontamination family: EXACT 13-grams (eval_decontaminate_exact_
  ngrams) catch verbatim leaks, fuzzy MinHash (eval_decontaminate_
  fuzzy_minhash) catches near-verbatim ones, and this catches
  PARAPHRASED leaks the lexical tests cannot see — flag every
  training vector whose embedding cosine with any eval vector reaches
  the SemDeDup threshold (0.95). The published practice (semantic
  dedup against eval sets, e.g. the SemDeDup/D4 line of work) applied
  to the decontamination direction.
- ``quality_calibration_ece`` — reliability diagram + per-bin
  calibration gaps for the registered hashed linear quality scorer
  (the standard ECE decomposition, Guo et al. 2017): integer-milli
  confidence quantization, 10 integer bins, per-bin accuracy vs mean
  confidence through the shared decimal-quotient route. Completes
  ``quality_threshold_sweep``'s PR curve with the calibration story a
  production filter stack needs before trusting scores as keep
  probabilities.
- ``domain_suffix_optout_filter`` — opt-out / blocklist suppression
  with WILDCARD domain rules (``*.tracker.com`` style): each doc's
  registrable-domain chain is exploded into its dot-suffixes (bounded
  by label count, ≤4 here) and equi-joined against the broadcast rule
  table — the scale-safe shape, versus the LIKE '%suffix' cross
  product that cannot use a join key at all. ``exact`` rules bind
  only at suffix position 0 (the full domain); ``suffix`` rules bind
  at any position. Output is the per-doc audit (blocked flag + first
  matching rule); production applies the same match as an anti-join.
- ``bloom_decontaminate_portable`` — the registry's decontamination
  family documents "swap in a bloom filter when the eval gram set
  outgrows the broadcast threshold" (eval_decontaminate_exact_ngrams)
  but has no registered witness of that fallback actually
  working. This is it: a FULLY DETERMINISTIC, engine-portable Bloom
  filter — 60-bit md5 gram hashes, classic double hashing
  (h1 + j*h2 mod m), bits packed 63-per-BIGINT via ``bit_or`` (bit 63
  stays clear: DuckDB raises on ``1 << 63``) — built from the eval
  set's distinct 13-grams, shipped to every probe as a bounded array
  (m/63 = 1041 longs), and probed map-side by every corpus gram. The
  filter is sized the way production sizes one — from the eval gram
  count and an FP target — so sf0.1 EXERCISES the false-positive path
  (hundreds of FP grams) while staying a usable filter; the exact
  gram set runs alongside to label each doc's FP count, and the
  no-false-negative contract (n_bloom_pos >= n_exact, every planted
  leak flagged) is what the pytest pins assert.
- ``l_diversity_check`` — the privacy audit k-anonymity cannot
  express (Machanavajjhala et al. 2007): a group can satisfy k yet
  expose everyone in it when all members share one sensitive value.
  Distinct-l-diversity over quasi-identifier groups (nation × market
  segment × account-balance bucket) with order priority as the
  sensitive attribute; violating groups are exactly what a
  suppression pass would rewrite. Completes the registered privacy
  family (k_anonymity_check, text_pii_scan/redact).
- ``t_closeness_check`` — completes the registered privacy-audit
  triad: k_anonymity_check audits group SIZE, l_diversity_check
  audits sensitive-value DIVERSITY, and this audits sensitive-value
  DISTRIBUTION (Li, Li & Venkatasubramanian 2007): a group can be
  k-anonymous AND l-diverse yet still leak when its sensitive
  distribution skews far from the global one (skewness attack). For
  the ORDERED sensitive attribute (order priority), the distance is
  the Earth Mover's Distance = sum_i |cumsum_i(P - Q)| / (m - 1),
  computed entirely in exact integers via the common-denominator form
  (group counts x N - global counts x G), with ONE rounding at the
  end through the shared decimal route and the t = 1/4 alert an exact
  cross-multiplied comparison — the tv_distance_source_drift
  discipline applied to privacy. Same quasi-identifier grain as
  l_diversity_check, so the two audits compose into one release gate.
- ``auc_quality_classifier`` — exact tie-aware ROC-AUC of a quality
  score against planted binary labels, PER LANGUAGE (the
  classifier-bias question every corpus-quality pipeline must answer
  before trusting one threshold across languages). The standard
  rank-statistic identity AUC = P(score_pos > score_neg) +
  P(=)/2 is computed from a score histogram — never doc pairs and
  never a global rank: one corpus aggregate to (lang, score) cells,
  a lang-PARTITIONED cumulative window over the score domain, and
  the doubled numerator sum_s pos(s)*(2*neg_below(s) + neg(s)) stays
  an exact integer until the single final division. Complements
  quality_calibration_ece (calibration) with discrimination.
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
- ``pii_redact_spans`` — the MUTATION twin of ``text_pii_scan``
  (detection) and the privacy family's release path: replace every
  email / long-digit-run match with a typed token, emails FIRST
  (digit runs inside an address must not shred it before the address
  rule fires — ordering is part of the contract and a planted case
  witnesses it), then digit runs. Per-type counts ride the compared
  bytes next to an md5 over the redacted text and a computed
  residual-match column that must be zero — an engine that redacts
  partially or in the wrong order flunks the hash three ways.
  Same regex dialect subset both engines already share in
  text_pii_scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)
from market_pulse_data_pipeline_spark.queries.text import _SW_SQL, STOPWORDS

# Gopher-style bounds (arbitrary but fixed; the shape is the point).
_MIN_WORDS = 20
_MAX_WORDS = 10_000
_MIN_MEAN_WLEN = 2.0
_MAX_MEAN_WLEN = 12.0
_STOPWORDS = ("a", "the")  # synthetic corpus vocabulary includes both


@register(
    "corpus_quality_filter",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, source,
             len(string_split(text, ' ')) AS n_words,
             {sql_round_div("CAST(length(replace(text, ' ', '')) AS DOUBLE)",
                            "len(string_split(text, ' '))")} AS mean_wlen,
             (list_contains(string_split(text, ' '), 'a')
              OR list_contains(string_split(text, ' '), 'the'))
               AS has_stopword
      FROM documents
    )
    SELECT doc_id, lang, source, n_words, mean_wlen,
           (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}) AS rule_len,
           (mean_wlen BETWEEN {_MIN_MEAN_WLEN} AND {_MAX_MEAN_WLEN})
             AS rule_wlen,
           has_stopword AS rule_stopword,
           ((n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
            AND (mean_wlen BETWEEN {_MIN_MEAN_WLEN} AND {_MAX_MEAN_WLEN})
            AND has_stopword) AS keep
    FROM scored
    """,
    doc="Gopher-style hard quality filter with per-rule diagnostics: "
    "word-count bounds, mean-word-length bounds, stopword presence. "
    "Map-only — no shuffle at any scale; the per-rule booleans are what "
    "a pipeline operator logs to audit WHY a document was dropped. "
    "mean_wlen rounds through the exact-decimal quotient so both "
    "engines agree at representation boundaries.",
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    mean_wlen = round_div(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
            "double"
        ),
        n_words,
    )
    has_stop = F.arrays_overlap(
        words, F.array(*[F.lit(s) for s in _STOPWORDS])
    )
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        has_stop.alias("has_stopword"),
    )
    rule_len = F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
    rule_wlen = F.col("mean_wlen").between(_MIN_MEAN_WLEN, _MAX_MEAN_WLEN)
    return scored.select(
        "doc_id",
        "lang",
        "source",
        "n_words",
        "mean_wlen",
        rule_len.alias("rule_len"),
        rule_wlen.alias("rule_wlen"),
        F.col("has_stopword").alias("rule_stopword"),
        (rule_len & rule_wlen & F.col("has_stopword")).alias("keep"),
    )


# Same dialect-portable patterns as text_pii_scan (Java regex ∩ RE2).
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
_PII_ID = "[0-9]{6,}"


@register(
    "text_pii_redact",
    f"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}',
                 '[EMAIL]', 'g'), '{_PII_ID}', '[ID]', 'g'))
             AS redacted_md5,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER)
             AS n_email_redacted,
           CAST(len(regexp_extract_all(
                 regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                 '{_PII_ID}')) AS INTEGER) AS n_id_redacted
    FROM documents
    """,
    doc="PII REDACTION (the action text_pii_scan only detects): emails "
    "then long digit runs replaced with typed placeholders; returns the "
    "md5 of the redacted text (hash-checkable without shipping full "
    "text through the harness) plus per-type replacement counts. "
    "Order matters and is pinned: emails first, so digit runs inside "
    "an address are counted once. Map-only at any scale; patterns "
    "restricted to the Java-regex ∩ RE2 dialect so the oracle matches "
    "byte-for-byte.",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    after_email = F.regexp_replace("text", _PII_EMAIL, "[EMAIL]")
    redacted = F.regexp_replace(after_email, _PII_ID, "[ID]")
    return docs.select(
        "doc_id",
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0)))
        .alias("n_email_redacted"),
        F.size(F.regexp_extract_all(after_email, F.lit(_PII_ID), F.lit(0)))
        .alias("n_id_redacted"),
    )


@register(
    "char_class_profile",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_total,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           length(regexp_replace(text, '[^ ]', '', 'g')) AS n_space,
           {sql_round_div(
             "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) "
             "AS DOUBLE)", "length(text)")} AS alpha_frac,
           {sql_round_div(
             "CAST(length(regexp_replace(text, '[^ ]', '', 'g')) "
             "AS DOUBLE)", "length(text)")} AS space_frac
    FROM documents
    WHERE length(text) > 0
    """,
    doc="character-class profile (alpha/digit/space counts + fractions) "
    "— the symbol-ratio signal of C4/Gopher filters, kept to exact "
    "rational arithmetic (counts and decimal-rounded quotients, no "
    "transcendentals) so the hash comparison is bit-stable. Map-only.",
)
def char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_total = F.length("text")

    def class_count(pattern: str):
        return F.length(F.regexp_replace("text", pattern, ""))

    n_alpha = class_count("[^a-zA-Z]")
    n_digit = class_count("[^0-9]")
    n_space = class_count("[^ ]")
    return docs.select(
        "doc_id",
        n_total.alias("n_chars_total"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
        round_div(n_alpha.cast("double"), n_total).alias("alpha_frac"),
        round_div(n_space.cast("double"), n_total).alias("space_frac"),
    )


_SENT_W = 10  # tokens per pseudo-sentence (synthetic corpus has no '.')


@register(
    "sentence_dedup_profile",
    f"""
    WITH sents AS (
      SELECT doc_id,
             CAST((g.start - 1) / {_SENT_W} AS INTEGER) AS sent_id,
             md5(array_to_string(
               list_slice(string_split(text, ' '),
                          g.start, g.start + {_SENT_W} - 1), ' ')) AS h
      FROM documents,
           UNNEST(generate_series(
             1, len(string_split(text, ' ')), {_SENT_W})) AS g(start)
    ), firsts AS (
      SELECT h, MIN(doc_id * 1000000 + sent_id) AS first_pos, COUNT(*) AS n
      FROM sents GROUP BY h
    )
    SELECT s.doc_id,
           COUNT(*) AS n_sents,
           CAST(SUM(CASE WHEN f.first_pos < s.doc_id * 1000000 + s.sent_id
                         THEN 1 ELSE 0 END) AS INTEGER) AS n_dup_sents,
           CAST(SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS INTEGER)
             AS n_shared_sents
    FROM sents s JOIN firsts f ON s.h = f.h
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc="sentence-level (fixed 10-token window) exact dedup profile: "
    "per document, how many of its sentences are corpus-wide "
    "duplicates (first occurrence by (doc_id, sent_id) order wins) and "
    "how many are shared at all. This is the fine-grained complement "
    "of document-level dedup_exact — the shape used to strip "
    "boilerplate lines at corpus scale. One explode + one hash-agg on "
    "a 16-byte digest + one digest-keyed join back: at 100 TB both "
    "shuffles key on md5(sentence), which is uniformly distributed "
    "(no skew), and the join's build side (distinct digests) is the "
    "compressible one.",
)
def sentence_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sents = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size(toks), F.lit(_SENT_W))
        ).alias("start"),
        toks.alias("tk"),
    ).select(
        "doc_id",
        ((F.col("start") - 1) / _SENT_W).cast("int").alias("sent_id"),
        F.md5(
            F.array_join(
                F.slice(F.col("tk"), F.col("start"), _SENT_W), " "
            ).cast("binary")
        ).alias("h"),
    )
    pos = F.col("doc_id") * 1_000_000 + F.col("sent_id")
    firsts = sents.groupBy("h").agg(
        F.min(pos).alias("first_pos"), F.count(F.lit(1)).alias("n")
    )
    return (
        sents.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sents"),
            F.sum(
                F.when(F.col("first_pos") < pos, 1).otherwise(0)
            ).cast("int").alias("n_dup_sents"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("int")
            .alias("n_shared_sents"),
        )
        .orderBy("doc_id")
    )


@register(
    "scd2_user_event_type_history",
    """
    WITH runs AS (
      SELECT user_id, event_type, ts,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), grp AS (
      SELECT user_id, event_type, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS run_id
      FROM runs
    )
    SELECT user_id, CAST(run_id AS INTEGER) AS version, event_type,
           epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS valid_from_us,
           epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS last_seen_us,
           CAST(COUNT(*) AS INTEGER) AS n_events
    FROM grp
    WHERE user_id < 100
    GROUP BY user_id, run_id, event_type
    ORDER BY user_id, version
    """,
    doc="SCD2 (type-2 slowly-changing-dimension) history build from an "
    "event stream: per user, consecutive runs of the same event_type "
    "collapse into versioned validity intervals (valid_from/last_seen) "
    "via the classic gaps-and-islands shape — lag() change detection + "
    "running-sum run id + per-run aggregate. Two window passes and one "
    "aggregate, all partitioned by user_id: a single shuffle at any "
    "scale, and AQE handles hot users. The reference's MERGE keeps "
    "only latest state (J2/J3); this keeps full history — the other "
    "half of warehouse dimension maintenance.",
)
def scd2_user_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("is_start"),
    )
    # the running sum must consume is_start from a separate projection
    # (window-in-window is rejected); both windows share the same
    # (user_id | ts, event_id) sort so only one shuffle+sort is planned.
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = runs.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("is_start").over(wsum).alias("run_id"),
    )
    return (
        grp.groupBy("user_id", "run_id", "event_type")
        .agg(
            # epoch micros, not raw timestamps: compared bytes must not
            # depend on the harness session's timezone/rendering
            F.unix_micros(F.min("ts")).alias("valid_from_us"),
            F.unix_micros(F.max("ts")).alias("last_seen_us"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("run_id").cast("int").alias("version"),
            "event_type",
            "valid_from_us",
            "last_seen_us",
            "n_events",
        )
        .orderBy("user_id", "version")
    )


_FUZZY_HEAD = 40  # compared prefix length
_FUZZY_MAX_DIST = 12  # edit-distance threshold (corpus gap: 0 vs >=16)
_FUZZY_BUCKET = 50  # n_chars blocking bucket width


@register(
    "dedup_fuzzy_blocked",
    f"""
    WITH d AS (
      SELECT doc_id, lang, n_chars // {_FUZZY_BUCKET} AS bucket,
             substr(text, 1, {_FUZZY_HEAD}) AS head
      FROM documents
    )
    SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id,
           CAST(levenshtein(a.head, b.head) AS INTEGER) AS dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= {_FUZZY_MAX_DIST}
    ORDER BY a_doc_id, b_doc_id
    """,
    doc="blocked fuzzy entity-resolution join: candidate pairs come "
    "only from (lang, length-bucket) blocks — never an all-pairs cross "
    "— then exact Levenshtein on a fixed 40-char prefix keeps the "
    "quadratic-cost kernel bounded per pair. The classic record-"
    "linkage shape: at 100 TB the join shuffles on the blocking key, "
    "pair count is sum of block-size squares (controlled by bucket "
    "width), and edit distance runs JVM-side (built-in levenshtein, "
    "identical semantics in DuckDB). Complements digest/MinHash dedup "
    "with typo-tolerant matching.",
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        # integer div (the r12 idiom): identical to DuckDB's // for
        # every input, no double quotient in the compared path
        F.expr(f"n_chars div {_FUZZY_BUCKET}").alias("bucket"),
        F.substring("text", 1, _FUZZY_HEAD).alias("head"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= _FUZZY_MAX_DIST)
        .select(
            F.col("a.doc_id").alias("a_doc_id"),
            F.col("b.doc_id").alias("b_doc_id"),
            dist.cast("int").alias("dist"),
        )
        .orderBy("a_doc_id", "b_doc_id")
    )


_KANON = 5


@register(
    "k_anonymity_check",
    f"""
    WITH groups AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
      FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, group_size,
           group_size < {_KANON} AS violates_k
    FROM groups
    """,
    doc=f"k-anonymity audit (k={_KANON}) over the quasi-identifier "
    "pair (nation, market segment): any equivalence class smaller "
    "than k re-identifies its members — the governance check run "
    "before releasing or training on user-adjacent tables. One hash "
    "aggregate; at 100 TB the class count is bounded by the "
    "quasi-identifier domain, not row count, and the violating "
    "classes are exactly the rows a suppression/generalization pass "
    "would rewrite.",
)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            (F.col("group_size") < _KANON).alias("violates_k"),
        )
    )


# log10(1 + 1/d) for d = 1..9, precomputed so BOTH engines consume the
# same literal doubles (log10 itself is libm-dependent)
_BENFORD_P = [
    0.3010299957, 0.1760912591, 0.1249387366, 0.096910013, 0.079181246,
    0.0669467896, 0.057991947, 0.0511525224, 0.0457574906,
]


@register(
    "benford_first_digit_audit",
    f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), expected(digit, p) AS (
      VALUES {", ".join(f"({d}, {p!r})" for d, p in enumerate(_BENFORD_P, 1))}
    ), total AS (SELECT COUNT(*) AS n FROM digits)
    SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs,
           CAST(ROUND(CAST(e.p * t.n AS DECIMAL(28,10)), 2) AS DOUBLE)
             AS n_expected,
           CAST(ROUND(CAST((COALESCE(o.n_obs, 0) - e.p * t.n)
                  * (COALESCE(o.n_obs, 0) - e.p * t.n) / (e.p * t.n)
                  AS DECIMAL(28,10)), 4) AS DOUBLE) AS chi2_term
    FROM expected e
    LEFT JOIN (SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY 1) o
      ON o.digit = e.digit
    CROSS JOIN total t
    """,
    doc="Benford's-law first-digit audit of order totals — the fraud/"
    "synthetic-data smell test: observed first-digit counts vs "
    "n*log10(1+1/d) with per-digit chi-square terms. The log10 "
    "probabilities are PRECOMPUTED literals shared by both engines "
    "(libm log10 is not portable; literals are), the first digit "
    "comes from a fixed-scale decimal rendering (portable, unlike "
    "double rendering), and the chi2 arithmetic is identical doubles "
    "snapped before rounding. One scan + a 9-row broadcast.",
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        digit.alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    expected = spark.createDataFrame(
        [(d, p) for d, p in enumerate(_BENFORD_P, 1)], "digit int, p double"
    )
    total = digits.agg(F.count(F.lit(1)).alias("n"))
    exp_n = F.col("p") * F.col("n")
    diff = F.coalesce(F.col("n_obs"), F.lit(0)) - exp_n
    return (
        expected.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
            F.round(exp_n.cast("decimal(28,10)"), 2)
            .cast("double")
            .alias("n_expected"),
            F.round((diff * diff / exp_n).cast("decimal(28,10)"), 4)
            .cast("double")
            .alias("chi2_term"),
        )
    )


@register(
    "chi2_independence_lang_source",
    """
    WITH obs AS (
      SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ), rows_t AS (SELECT lang, SUM(n) AS nr FROM obs GROUP BY lang),
    cols_t AS (SELECT source, SUM(n) AS nc FROM obs GROUP BY source),
    tot AS (SELECT SUM(n) AS nt FROM obs)
    SELECT o.lang, o.source, o.n,
           CAST(ROUND(CAST(CAST(r.nr * c.nc AS DOUBLE) / t.nt
                  AS DECIMAL(28,10)), 4) AS DOUBLE) AS n_expected,
           CAST(ROUND(CAST((o.n - CAST(r.nr * c.nc AS DOUBLE) / t.nt)
                  * (o.n - CAST(r.nr * c.nc AS DOUBLE) / t.nt)
                  / (CAST(r.nr * c.nc AS DOUBLE) / t.nt)
                  AS DECIMAL(28,10)), 4) AS DOUBLE) AS chi2_term
    FROM obs o
    JOIN rows_t r ON r.lang = o.lang
    JOIN cols_t c ON c.source = o.source
    CROSS JOIN tot t
    """,
    doc="chi-square independence audit of the (lang, source) "
    "contingency table — the corpus-balance diagnostic that tells you "
    "whether language mix differs by source (it should match the "
    "mixture design; a large chi2 term flags a skewed cell). Expected "
    "counts are exact-integer products over one division — identical "
    "doubles both engines, decimal-snapped before rounding. Shape: "
    "one aggregate + two marginal re-aggregates over a "
    "|langs|x|sources|-bounded table.",
)
def chi2_independence_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    rows_t = obs.groupBy("lang").agg(F.sum("n").alias("nr"))
    cols_t = obs.groupBy("source").agg(F.sum("n").alias("nc"))
    tot = obs.agg(F.sum("n").alias("nt"))
    exp = (F.col("nr") * F.col("nc")).cast("double") / F.col("nt")
    diff = F.col("n") - exp
    return (
        obs.join(F.broadcast(rows_t), "lang")
        .join(F.broadcast(cols_t), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n",
            F.round(exp.cast("decimal(28,10)"), 4)
            .cast("double")
            .alias("n_expected"),
            F.round((diff * diff / exp).cast("decimal(28,10)"), 4)
            .cast("double")
            .alias("chi2_term"),
        )
    )


_FH_BUCKETS = 256
_FH_SQL_H60 = "(('0x' || substring(md5({e}), 1, 15))::BIGINT)"


@register(
    "hashed_linear_quality_score",
    f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             {_FH_SQL_H60.format(e="concat('f:', tok)")} % {_FH_BUCKETS}
               AS bucket
      FROM toks
    ),
    scored AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(({_FH_SQL_H60.format(
                 e="concat('w:', CAST(bucket AS VARCHAR))")}
                 % 2001) - 1000) AS BIGINT) AS raw_milli
      FROM feat GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, raw_milli,
           CAST(ROUND(CAST(raw_milli / (1000.0 * n_tokens)
                AS DECIMAL(28,10)), 6) AS DOUBLE) AS score,
           (raw_milli > 0) AS keep
    FROM scored
    """,
    doc="hashing-trick linear quality classifier (the fasttext-style "
    "shape every corpus pipeline runs): tokens hash into "
    f"{_FH_BUCKETS} feature buckets, each bucket carries a fixed "
    "weight (here deterministic md5-derived milli-weights standing in "
    "for trained coefficients — integer-exact, so the score is an "
    "exact rational and the decision boundary is engine-stable), and "
    "the document score is the mean token weight with keep = "
    "score > 0. Inference is explode + map-side expression + one "
    "hash aggregate per doc — NO model join (weights derive in "
    "codegen; a real model would broadcast a 256-row weight table). "
    "At 100 TB this is the map-only scoring pass that gates "
    "documents before expensive dedup/embedding stages; swapping the "
    "pseudo-weights for trained ones changes one expression.",
)
def hashed_linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    feat = toks.select(
        "doc_id",
        F.pmod(
            portable_hash60(F.concat(F.lit("f:"), F.col("tok"))),
            F.lit(_FH_BUCKETS),
        ).alias("bucket"),
    )
    w = (
        F.pmod(
            portable_hash60(
                F.concat(F.lit("w:"), F.col("bucket").cast("string"))
            ),
            F.lit(2001),
        )
        - 1000
    )
    scored = feat.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(w).cast("long").alias("raw_milli"),
    )
    score = F.round(
        (F.col("raw_milli") / (1000.0 * F.col("n_tokens"))).cast(
            "decimal(28,10)"
        ),
        6,
    ).cast("double")
    return scored.select(
        "doc_id",
        "n_tokens",
        "raw_milli",
        score.alias("score"),
        (F.col("raw_milli") > 0).alias("keep"),
    )


# --------------------------------------------------------------------
# quality_threshold_sweep
# --------------------------------------------------------------------

_TS_LABEL_CHARS = 300  # ground-truth label: n_chars >= this (~50/50 split)
_TS_RES = 20  # score-bucket resolution: thresholds at multiples of 1/20


@register(
    "quality_threshold_sweep",
    f"""
    WITH toks AS (
      SELECT doc_id, n_chars, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    feat AS (
      SELECT doc_id, n_chars,
             {_FH_SQL_H60.format(e="concat('f:', tok)")} % {_FH_BUCKETS}
               AS bucket
      FROM toks
    ),
    scored AS (
      SELECT doc_id,
             MIN(n_chars) >= {_TS_LABEL_CHARS} AS label,
             COUNT(*) AS n_tokens,
             CAST(SUM(({_FH_SQL_H60.format(
                 e="concat('w:', CAST(bucket AS VARCHAR))")}
                 % 2001) - 1000) AS BIGINT) AS raw_milli
      FROM feat GROUP BY doc_id
    ),
    bucketed AS (
      -- exact integer floor(score * RES) = floor(raw_milli /
      -- (1000/RES * n_tokens)); portable floor division via the
      -- always-non-negative modulus
      SELECT CAST((raw_milli
                   - ((raw_milli % ({1000 // _TS_RES} * n_tokens))
                      + ({1000 // _TS_RES} * n_tokens))
                     % ({1000 // _TS_RES} * n_tokens))
                  / ({1000 // _TS_RES} * n_tokens) AS BIGINT) AS b,
             label
      FROM scored
    ),
    hist AS (
      SELECT b,
             SUM(CASE WHEN label THEN 1 ELSE 0 END) AS pos,
             SUM(CASE WHEN label THEN 0 ELSE 1 END) AS neg
      FROM bucketed GROUP BY b
    ),
    curve AS (
      SELECT b,
             SUM(pos) OVER (ORDER BY b DESC) AS tp,
             SUM(neg) OVER (ORDER BY b DESC) AS fp,
             SUM(pos) OVER () AS total_pos
      FROM hist
    )
    SELECT CAST(b AS INTEGER) AS threshold_bucket,
           CAST(b AS DOUBLE) / {_TS_RES} AS threshold,
           CAST(tp + fp AS BIGINT) AS n_pred_pos,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(total_pos - tp AS BIGINT) AS fn,
           {sql_round_div("tp", "tp + fp")} AS precision,
           {sql_round_div("tp", "total_pos")} AS recall,
           {sql_round_div("2 * tp", "2 * tp + fp + (total_pos - tp)")}
             AS f1
    FROM curve
    ORDER BY threshold_bucket
    """,
    doc="precision/recall/F1 threshold sweep over the hashing-trick "
    "quality classifier's scores (hashed_linear_quality_score is the "
    "scoring pass; this picks its operating point) against a "
    "deterministic ground-truth label (n_chars >= 300, ~50/50 at the "
    "fixture SFs). The curve is computed the scale-correct way: "
    "scores histogram into exact integer buckets (floor(score*20) "
    "computed as integer floor division of raw_milli — no float "
    "boundary can move a doc across buckets), ONE doc-level hash "
    "aggregate builds the (bucket, label) histogram, and the whole "
    "PR curve falls out of suffix sums over the <=41-row histogram — "
    "never a per-threshold rescan of the corpus. Predicting positive "
    "at threshold b/20 is exactly bucket >= b (floor contract), so "
    "every tp/fp/fn is integer-exact cross-engine; ratios go through "
    "the shared decimal rounding route. At 100 TB: explode + two "
    "hash aggregates on the corpus, then driver-free window math on "
    "a bounded table.",
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    feat = toks.select(
        "doc_id",
        "n_chars",
        F.pmod(
            portable_hash60(F.concat(F.lit("f:"), F.col("tok"))),
            F.lit(_FH_BUCKETS),
        ).alias("bucket"),
    )
    w = (
        F.pmod(
            portable_hash60(
                F.concat(F.lit("w:"), F.col("bucket").cast("string"))
            ),
            F.lit(2001),
        )
        - 1000
    )
    scored = feat.groupBy("doc_id").agg(
        (F.min("n_chars") >= _TS_LABEL_CHARS).alias("label"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(w).cast("long").alias("raw_milli"),
    )
    # exact integer floor(score * RES); see the oracle comment
    d = F.lit(1000 // _TS_RES) * F.col("n_tokens")
    b = (
        (F.col("raw_milli") - F.pmod(F.col("raw_milli"), d)) / d
    ).cast("long")
    hist = (
        scored.select(b.alias("b"), "label")
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("pos"),
            F.sum(F.when(F.col("label"), 0).otherwise(1)).alias("neg"),
        )
    )
    # the histogram is bounded (<= 2*RES+1 rows), so the unpartitioned
    # windows below are driver-free math on a tiny table, not a skew
    suffix = Window.orderBy(F.desc("b")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    everything = Window.orderBy(F.desc("b")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    curve = hist.select(
        "b",
        F.sum("pos").over(suffix).alias("tp"),
        F.sum("neg").over(suffix).alias("fp"),
        F.sum("pos").over(everything).alias("total_pos"),
    )
    fn = F.col("total_pos") - F.col("tp")
    return curve.select(
        F.col("b").cast("int").alias("threshold_bucket"),
        (F.col("b").cast("double") / _TS_RES).alias("threshold"),
        (F.col("tp") + F.col("fp")).cast("long").alias("n_pred_pos"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        round_div(F.col("tp").cast("double"), F.col("tp") + F.col("fp")).alias(
            "precision"
        ),
        round_div(F.col("tp").cast("double"), F.col("total_pos")).alias(
            "recall"
        ),
        round_div(
            (F.lit(2) * F.col("tp")).cast("double"),
            F.lit(2) * F.col("tp") + F.col("fp") + fn,
        ).alias("f1"),
    ).orderBy("threshold_bucket")


# --------------------------------------------------------------------
# ccnet_perplexity_buckets
# --------------------------------------------------------------------

# the registered bigram_fluency_score shape (queries/sketches.py),
# with lang carried through for the per-language tercile split
_CCNET_SCORE_SQL = f"""
    WITH bg AS (
      SELECT doc_id, lang, bigram, split_part(bigram, ' ', 1) AS w1
      FROM (
        SELECT doc_id, lang,
               UNNEST(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
              FROM documents)
        WHERE len(ws) >= 2
      )
    ),
    c2 AS (SELECT bigram, COUNT(*) AS n2 FROM bg GROUP BY 1),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1),
    scored AS (
      SELECT bg.doc_id, bg.lang,
             {sql_round_div(
        "CAST(SUM(CAST(CAST(c1.n1 AS DOUBLE) / c2.n2 AS DECIMAL(20,6)))"
        " AS DOUBLE)",
        "COUNT(*)",
    )} AS mean_inv_p
      FROM bg
      JOIN c2 USING (bigram)
      JOIN c1 USING (w1)
      GROUP BY bg.doc_id, bg.lang
    )"""


@register(
    "ccnet_perplexity_buckets",
    _CCNET_SCORE_SQL
    + """
    SELECT lang, doc_id, mean_inv_p,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           (tile <= 2) AS keep
    FROM (
      SELECT lang, doc_id, mean_inv_p,
             NTILE(3) OVER (PARTITION BY lang
                            ORDER BY mean_inv_p, doc_id) AS tile
      FROM scored
    )
    ORDER BY lang, doc_id
    """,
    doc="CCNet quality partitioning (Wenzek et al., LREC 2020): per "
    "LANGUAGE, split documents into head/middle/tail terciles by an "
    "LM fluency signal and keep head+middle — the per-lang split is "
    "what keeps low-resource languages alive where an absolute "
    "threshold would drop them wholesale. The LM is the registered "
    "model-free bigram fluency score (mean inverse conditional bigram "
    "probability, corpus MLE); buckets are NTILE(3) under the total "
    "order (score, doc_id), so membership is integer-exact on both "
    "engines — no float percentile boundary. 100 TB shape: the score "
    "is two token-keyed count aggregates + co-partitioned joins (the "
    "driver-green fluency plan), then ONE window partitioned by lang "
    "— the skew unit is a language, the classic case for AQE skew "
    "handling, and the rank never needs a global sort.",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("ws")
    ).filter(F.size("ws") >= 2)
    bg = toked.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(ws[i - 1], ' ', ws[i]))"
            )
        ).alias("bigram"),
    ).withColumn("w1", F.substring_index("bigram", " ", 1))
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    term = (F.col("n1").cast("double") / F.col("n2")).cast("decimal(20,6)")
    scored = (
        bg.join(c2, "bigram")
        .join(c1, "w1")
        .groupBy("doc_id", "lang")
        .agg(
            round_div(
                F.sum(term).cast("double"), F.count(F.lit(1))
            ).alias("mean_inv_p"),
        )
    )
    w = Window.partitionBy("lang").orderBy("mean_inv_p", "doc_id")
    tiled = scored.select(
        "lang", "doc_id", "mean_inv_p", F.ntile(3).over(w).alias("tile")
    )
    return tiled.select(
        "lang",
        "doc_id",
        "mean_inv_p",
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
        (F.col("tile") <= 2).alias("keep"),
    ).orderBy("lang", "doc_id")


# --------------------------------------------------------------------
# eval_decontaminate_exact_ngrams
# --------------------------------------------------------------------

_DC_N = 13  # the GPT-3/PaLM decontamination n-gram order
_DC_EVAL_MOD = 53  # doc_id % 53 == 0 plays the held-out eval set
_DC_LEAK_MOD = 2 * _DC_EVAL_MOD  # every 2nd eval doc leaks verbatim
_DC_PLANT_OFFSET = 1_000_000_000  # same fixture-guard regime as LSH


def _decontam_oracle() -> str:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _MERSENNE,
    )

    h60 = (
        "(('0x' || substring(md5(array_to_string("
        f"list_slice(ws, i, i + {_DC_N - 1}), ' ')), 1, 15))::BIGINT"
        f" % {_MERSENNE})"
    )
    return f"""
    WITH train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_DC_EVAL_MOD} <> 0
      UNION ALL
      SELECT doc_id + {_DC_PLANT_OFFSET}, text FROM documents
      WHERE doc_id % {_DC_LEAK_MOD} = 0
    ),
    eg AS (
      SELECT DISTINCT UNNEST(
        list_transform(range(1, len(ws) - {_DC_N - 1} + 1), i -> {h60})
      ) AS g
      FROM (SELECT string_split(text, ' ') AS ws FROM documents
            WHERE doc_id % {_DC_EVAL_MOD} = 0)
      WHERE len(ws) >= {_DC_N}
    ),
    tg AS (
      SELECT DISTINCT doc_id, UNNEST(
        list_transform(range(1, len(ws) - {_DC_N - 1} + 1), i -> {h60})
      ) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM train)
      WHERE len(ws) >= {_DC_N}
    ),
    hits AS (
      SELECT tg.doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM tg JOIN eg USING (g) GROUP BY 1
    )
    SELECT train.doc_id,
           COALESCE(hits.n, 0) AS n_eval_ngrams,
           COALESCE(hits.n, 0) > 0 AS contaminated
    FROM train LEFT JOIN hits USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "eval_decontaminate_exact_ngrams",
    _decontam_oracle(),
    doc="eval-set decontamination as an asymmetric broadcast join "
    "(the GPT-3 appendix-C / PaLM production "
    "shape): drop every training document sharing ANY 13-gram with "
    "the held-out eval set (doc_id % 53 == 0 plays the eval role). "
    "Emits the full per-document decision — distinct-13-gram hit "
    "count and the contaminated flag — for every training doc, "
    "including the <13-token ones that can't collide (n=0, kept: "
    "faithful to the real algorithm). Planted verbatim leaks (every "
    "2nd eval doc re-keyed past 1e9 into the training side) witness "
    "the contract: a >=13-token leak MUST flag. Shingles are the "
    "proven portable 60-bit md5 hashes, so the eval side collapses "
    "to a DISTINCT int64 set. 100 TB shape: eval sets are tiny "
    "relative to the corpus (~1e7 grams = tens of MB hashed), so the "
    "gram set broadcasts and the corpus-side scan is map-only with "
    "one doc-keyed count — no corpus shuffle on text; swap in "
    "bloom_filter_prejoin's sketch if the eval set ever outgrows the "
    "broadcast threshold. Differs from contamination_ngram_overlap "
    "(the per-PAIR diagnostic): this is the per-doc KEEP/DROP "
    "decision a pipeline actually executes.",
)
def eval_decontaminate_exact_ngrams(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _MERSENNE,
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % _DC_EVAL_MOD != 0).select(
        "doc_id", "text"
    ).unionByName(
        # planted verbatim leaks: the eval texts the decontaminator
        # MUST catch (tests pin leaked >=13-token docs all flag)
        docs.filter(F.col("doc_id") % _DC_LEAK_MOD == 0).select(
            (F.col("doc_id") + _DC_PLANT_OFFSET).alias("doc_id"), "text"
        )
    )

    def grams(df: DataFrame) -> DataFrame:
        toks = df.select("doc_id", F.split("text", " ").alias("ws")).filter(
            F.size("ws") >= _DC_N
        )
        h = lambda i: F.pmod(  # noqa: E731
            portable_hash60(
                F.concat_ws(" ", F.slice(F.col("ws"), i, _DC_N))
            ),
            F.lit(_MERSENNE),
        )
        return toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (_DC_N - 1)), h
                )
            ).alias("g"),
        )

    eval_grams = (
        grams(docs.filter(F.col("doc_id") % _DC_EVAL_MOD == 0))
        .select("g")
        .distinct()
    )
    # join FIRST, dedup AFTER: the broadcast join filters corpus grams
    # map-side down to the (tiny) hit set, so the per-doc distinct
    # count shuffles only survivors — a pre-join distinct() would
    # shuffle the FULL corpus gram set, the one cost this shape exists
    # to avoid at 100 TB
    hits = (
        grams(train)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n"))
    )
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
                "n_eval_ngrams"
            ),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# boilerplate_sentence_removal
# --------------------------------------------------------------------

_BP_W = 10  # tokens per pseudo-sentence (sentence_dedup_profile's unit)
_BP_DF = 5  # boilerplate gate: sentence in > 5 DISTINCT documents
_BP_MOD = 7  # doc_id % 7 == 0 carries the planted site banner
# exactly 10 tokens, so the planted banner IS pseudo-sentence 0 of
# every planted doc and the original text's window grid shifts intact
_BP_BANNER = (
    "subscribe now terms of service privacy policy applies all rights"
)


@register(
    "boilerplate_sentence_removal",
    f"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_BP_MOD} = 0
                  THEN '{_BP_BANNER} ' || text ELSE text END AS text
      FROM documents
    ),
    sents AS (
      SELECT doc_id,
             CAST((g.start - 1) / {_BP_W} AS INTEGER) AS sent_id,
             array_to_string(list_slice(ws, g.start,
                                        g.start + {_BP_W} - 1), ' ')
               AS sent_text
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM src),
           UNNEST(generate_series(1, len(ws), {_BP_W})) AS g(start)
    ),
    dfc AS (
      SELECT md5(sent_text) AS h, COUNT(DISTINCT doc_id) AS df
      FROM sents GROUP BY 1
    ),
    flagged AS (
      SELECT s.doc_id, s.sent_id, s.sent_text,
             d.df > {_BP_DF} AS is_bp,
             len(string_split(s.sent_text, ' ')) AS n_toks
      FROM sents s JOIN dfc d ON md5(s.sent_text) = d.h
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sents,
           CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN is_bp THEN 0 ELSE n_toks END) AS BIGINT)
             AS n_tokens_clean,
           md5(COALESCE(string_agg(CASE WHEN is_bp THEN NULL
                                        ELSE sent_text END,
                                   ' ' ORDER BY sent_id), ''))
             AS clean_md5
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="boilerplate sentence removal — the cleanup ACTION "
    "sentence_dedup_profile only diagnoses (CCNet/C4 strip repeated "
    "site furniture before dedup and quality scoring): any 10-token "
    "pseudo-sentence appearing in > 5 DISTINCT documents is "
    "boilerplate; strip it everywhere and reassemble each document "
    "from its surviving sentences in order. A planted 10-token site "
    "banner prefixed onto every doc_id % 7 == 0 doc witnesses the "
    "contract (banner df >> gate, so every planted doc MUST lose "
    "sentence 0 and unplanted text passes through byte-identical — "
    "both pinned in tests). Emits per doc: sentence count, removed "
    "count, surviving token count, and md5 of the reassembled text "
    "(hash-comparable without shipping full text through the "
    "harness). 100 TB shape: one aggregate keyed on the 16-byte "
    "sentence digest (uniformly distributed, no skew) finds the "
    "boilerplate set, which is TINY by construction (df > 5 means "
    "|set| <= corpus_sentences / 5) and broadcasts; the flag join is "
    "then map-only and the reassembly is ONE doc-keyed aggregate — "
    "two shuffles total, text shuffled once.",
)
def boilerplate_sentence_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    src = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % _BP_MOD == 0,
            F.concat(F.lit(_BP_BANNER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = F.split("text", " ")
    sents = src.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size(toks), F.lit(_BP_W))
        ).alias("start"),
        toks.alias("tk"),
    ).select(
        "doc_id",
        ((F.col("start") - 1) / _BP_W).cast("int").alias("sent_id"),
        F.array_join(
            F.slice(F.col("tk"), F.col("start"), _BP_W), " "
        ).alias("sent_text"),
    ).withColumn("h", F.md5(F.col("sent_text").cast("binary")))
    # the boilerplate set is small by construction (each member needs
    # > _BP_DF distinct docs), so it broadcasts and the flag join on
    # the full sentence stream stays map-only
    bp = (
        sents.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > _BP_DF)
        .select("h", F.lit(True).alias("is_bp"))
    )
    flagged = sents.join(F.broadcast(bp), "h", "left").select(
        "doc_id",
        "sent_id",
        "sent_text",
        F.coalesce(F.col("is_bp"), F.lit(False)).alias("is_bp"),
        F.size(F.split("sent_text", " ")).alias("n_toks"),
    )
    # collect_list skips the NULLs when() leaves on boilerplate rows,
    # so the sort+join reassembles exactly the surviving sentences
    kept_sent = F.when(
        ~F.col("is_bp"), F.struct("sent_id", "sent_text")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sents"),
            F.sum(F.when(F.col("is_bp"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
            F.sum(F.when(F.col("is_bp"), 0).otherwise(F.col("n_toks")))
            .cast("long")
            .alias("n_tokens_clean"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_sent)),
                        lambda s: s["sent_text"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# gopher_repetition_filters
# --------------------------------------------------------------------

_GR_LINE_W = 10  # tokens per pseudo-line (the registry's sentence unit)
_GR_PARA_W = 30  # tokens per pseudo-paragraph
_GR_TOPK_PCT = {2: 20, 3: 18, 4: 16}  # Gopher A1 top-n-gram caps, in %
_GR_DUP_PCT = 30  # Gopher A1 duplicate line/paragraph fraction cap, in %
_GR_PLANT_MOD = 29  # every 29th doc spawns a planted repetitive twin
_GR_PLANT_OFFSET = 500_000_000  # planted ids, clear of fixture ids
_GR_PLANT_REPS = 12  # plant = first pseudo-line repeated 12x ->
# 12 identical lines (dup_line_frac = 11/12), 4 identical paragraphs
# (dup_para_frac = 3/4): every plant MUST come out keep=false

# pseudo-line/paragraph split as a single map-side expression: ceil
# split of the token array into fixed windows (the tail window may be
# short), then dup fraction via array_distinct — NO shuffle for the
# line/paragraph family. Spark SQL `slice` and DuckDB list slicing
# both clamp at the array end, so the grids agree.
_GR_LINES_SPARK = (
    "transform(sequence(0, (size(ws) + {w} - 1) div {w} - 1),"
    " i -> concat_ws(' ', slice(ws, i * {w} + 1, {w})))"
)
_GR_LINES_SQL = (
    "list_transform(range(0, (len(ws) + {w} - 1) // {w}),"
    " i -> array_to_string(ws[i * {w} + 1 : i * {w} + {w}], ' '))"
)


def _gopher_oracle() -> str:
    lines = _GR_LINES_SQL.format(w=_GR_LINE_W)
    paras = _GR_LINES_SQL.format(w=_GR_PARA_W)
    return f"""
    WITH alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_GR_PLANT_OFFSET},
             array_to_string(
               list_transform(range({_GR_PLANT_REPS}),
                 x -> array_to_string(ws[1 : {_GR_LINE_W}], ' ')), ' ')
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      WHERE doc_id % {_GR_PLANT_MOD} = 0
    ),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM alldocs
    ),
    struct_stats AS (
      SELECT doc_id, len(ws) AS n_tokens,
             len(lines) AS n_lines,
             len(list_distinct(lines)) AS d_lines,
             len(paras) AS n_paras,
             len(list_distinct(paras)) AS d_paras
      FROM (SELECT doc_id, ws, {lines} AS lines, {paras} AS paras FROM toks)
    ),
    g AS (
      SELECT doc_id, gl,
             UNNEST(list_transform(range(1, len(ws) - gl + 2),
                    i -> array_to_string(ws[i : i + gl - 1], ' '))) AS gm
      FROM toks, (SELECT UNNEST([2, 3, 4]) AS gl)
      WHERE len(ws) >= gl
    ),
    cnt AS (SELECT doc_id, gl, gm, COUNT(*) AS c FROM g GROUP BY ALL),
    top AS (SELECT doc_id, gl, MAX(c) AS topc FROM cnt GROUP BY doc_id, gl),
    wide AS (
      SELECT doc_id,
             MAX(CASE WHEN gl = 2 THEN topc END) AS c2,
             MAX(CASE WHEN gl = 3 THEN topc END) AS c3,
             MAX(CASE WHEN gl = 4 THEN topc END) AS c4
      FROM top GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           {sql_round_div('(s.n_lines - s.d_lines) * 1.0', 's.n_lines', 4)}
             AS dup_line_frac,
           {sql_round_div('(s.n_paras - s.d_paras) * 1.0', 's.n_paras', 4)}
             AS dup_para_frac,
           {sql_round_div('w.c2 * 2.0', 's.n_tokens', 4)} AS top2_cov,
           {sql_round_div('w.c3 * 3.0', 's.n_tokens', 4)} AS top3_cov,
           {sql_round_div('w.c4 * 4.0', 's.n_tokens', 4)} AS top4_cov,
           NOT (
             (s.n_lines - s.d_lines) * 100 > s.n_lines * {_GR_DUP_PCT}
             OR (s.n_paras - s.d_paras) * 100 > s.n_paras * {_GR_DUP_PCT}
             OR w.c2 * 200 > s.n_tokens * {_GR_TOPK_PCT[2]}
             OR w.c3 * 300 > s.n_tokens * {_GR_TOPK_PCT[3]}
             OR w.c4 * 400 > s.n_tokens * {_GR_TOPK_PCT[4]}
           ) AS keep
    FROM struct_stats s JOIN wide w USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "gopher_repetition_filters",
    _gopher_oracle(),
    bench=True,  # corpus-wide doc-level map-only shape
    doc="Gopher within-document repetition filters (Rae et al. 2021, "
    "table A1): duplicate-line fraction, "
    "duplicate-paragraph fraction (pseudo-lines = fixed 10/30-token "
    "windows — the corpus has no newlines; the unit matches "
    "sentence_dedup_profile's), and top-2/3/4-gram token coverage, "
    "with the published keep thresholds 0.30/0.30/0.20/0.18/0.16. "
    "The keep flag compares as cross-multiplied INTEGERS (c*n*100 > "
    "pct*n_tokens), so no float boundary exists on either engine; "
    "display ratios go through the decimal-quotient route. Planted "
    "repetitive twins (first pseudo-line repeated 12x, ids past 5e8) "
    "witness the contract: every plant measures dup_line_frac = 11/12 "
    "and MUST come out keep=false. "
    "Complements text_repetition_stats (token frequency) and "
    "exact_substring_spans (cross-doc): this is the within-doc "
    "STRUCTURAL family. 100 TB shape: ZERO shuffle — the "
    "line/paragraph stats are map-side array expressions, and the "
    "n-gram mode is a per-doc array_sort + one aggregate() fold "
    "(longest equal run), because n-grams are per-document by "
    "definition; everything comes out of ONE map-only "
    "projection (no doc-keyed branch join in the plan at all). "
    "Per-doc arrays bound memory at the "
    "longest document, the same contract every per-doc array op in "
    "the repo carries.",
)
def gopher_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # planted repetitive twins: first pseudo-line repeated 12x — the
    # filter MUST drop every one of them (pinned in tests)
    line = F.concat_ws(" ", F.slice(F.split("text", " "), 1, _GR_LINE_W))
    plants = docs.filter(F.col("doc_id") % _GR_PLANT_MOD == 0).select(
        (F.col("doc_id") + _GR_PLANT_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(line, _GR_PLANT_REPS)).alias("text"),
    )
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    # the fixture corpus arrives as one small parquet split: without
    # fan_out the whole per-doc fold pipeline runs on a single core
    # (measured 3.3 s -> sub-second at sf0.1). No-op on a real
    # many-split corpus. dense=True: the per-doc fold pipeline
    # does orders of magnitude more CPU per input byte than the
    # size-aware byte floor assumes (interleaved A/B: floor lost 0.43x).
    alldocs = fan_out(docs.unionByName(plants), dense=True)
    toks = alldocs.select("doc_id", F.split("text", " ").alias("ws"))
    lines = F.expr(_GR_LINES_SPARK.format(w=_GR_LINE_W))
    paras = F.expr(_GR_LINES_SPARK.format(w=_GR_PARA_W))
    # the top-n-gram MODE is computed map-side too: per doc, build the
    # n-gram array, array_sort it, and take the longest equal run with
    # one aggregate() fold — n-grams are per-document by definition,
    # so there is nothing to shuffle. (The DuckDB oracle keeps the
    # equivalent groupBy/max form — same mode count, different engine
    # idiom.) The whole operator is therefore ONE map-only projection:
    # the line/paragraph stats and the three gram modes come out of
    # the same select (the earlier two-branch form
    # joined them back on doc_id, paying a broadcast exchange and a
    # second corpus scan for columns that were map-side all along;
    # hashes unchanged, re-verified against the oracle).
    from market_pulse_data_pipeline_spark.functions.scalars import (  # noqa: PLC0415
        longest_run_count,
    )

    def top_run(gl: int):
        grams = (
            f"transform(sequence(0, size(ws) - {gl}),"
            f" i -> concat_ws(' ', slice(ws, i + 1, {gl})))"
        )
        return F.when(
            F.size("ws") >= gl, longest_run_count(grams)
        )

    stats = toks.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("d_lines"),
        F.size(paras).alias("n_paras"),
        F.size(F.array_distinct(paras)).alias("d_paras"),
        top_run(2).alias("c2"),
        top_run(3).alias("c3"),
        top_run(4).alias("c4"),
    )
    filtered = (
        ((F.col("n_lines") - F.col("d_lines")) * 100
         > F.col("n_lines") * _GR_DUP_PCT)
        | ((F.col("n_paras") - F.col("d_paras")) * 100
           > F.col("n_paras") * _GR_DUP_PCT)
        | (F.col("c2") * 200 > F.col("n_tokens") * _GR_TOPK_PCT[2])
        | (F.col("c3") * 300 > F.col("n_tokens") * _GR_TOPK_PCT[3])
        | (F.col("c4") * 400 > F.col("n_tokens") * _GR_TOPK_PCT[4])
    )
    return (
        stats
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            round_div(
                (F.col("n_lines") - F.col("d_lines")) * 1.0,
                F.col("n_lines"), 4,
            ).alias("dup_line_frac"),
            round_div(
                (F.col("n_paras") - F.col("d_paras")) * 1.0,
                F.col("n_paras"), 4,
            ).alias("dup_para_frac"),
            round_div(F.col("c2") * 2.0, F.col("n_tokens"), 4).alias(
                "top2_cov"
            ),
            round_div(F.col("c3") * 3.0, F.col("n_tokens"), 4).alias(
                "top3_cov"
            ),
            round_div(F.col("c4") * 4.0, F.col("n_tokens"), 4).alias(
                "top4_cov"
            ),
            (~filtered).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# eval_decontaminate_fuzzy_minhash
# --------------------------------------------------------------------

_FZ_N = 13  # the decontamination n-gram order (same as the exact op)
_FZ_EVAL_MOD = 53  # doc_id % 53 == 0 plays the held-out eval set
_FZ_VERBATIM_MOD = 2 * _FZ_EVAL_MOD  # every 2nd eval doc leaks verbatim
_FZ_PERM = 128
_FZ_BANDS = 32  # 32 bands x 4 rows: P(miss J=0.8 pair) = (1-.8^4)^32 ~ 5e-8
_FZ_ROWS = _FZ_PERM // _FZ_BANDS
_FZ_V_OFFSET = 1_000_000_000  # verbatim leak ids
_FZ_P_OFFSET = 2_000_000_000  # 90%-prefix partial leak ids (J ~ 0.83-0.88)
_FZ_N_OFFSET = 3_000_000_000  # 40%-prefix negatives (J < 0.35, never flag)

# prefix-truncated plant text, shared between engines: keep the first
# (len*frac_num) div frac_den tokens. Spark `div` and DuckDB `//` are
# both integer floor division on BIGINT.
_FZ_CUT_SPARK = "concat_ws(' ', slice(ws, 1, (size(ws) * {num}) div {den}))"
_FZ_CUT_SQL = "array_to_string(ws[1 : (len(ws) * {num}) // {den}], ' ')"


def _fuzzy_oracle() -> str:
    # Band-contract oracle (the minhash_lsh_near_dups precedent): the
    # exhaustive exact-Jaccard pair set at J >= 0.8 equals the LSH
    # candidates re-verified exactly, because per-pair miss
    # probability under 32 bands x 4 rows is (1-J^4)^32 <= 5e-8 at the
    # threshold — deterministic on the fixed corpus, witnessed at
    # sf0.001/0.01/0.1 through both local gates. The >= 0.8 test
    # compares as integers (10*∩ >= 8*∪): no float boundary.
    cut90 = _FZ_CUT_SQL.format(num=9, den=10)
    cut40 = _FZ_CUT_SQL.format(num=2, den=5)
    return f"""
    WITH evald AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_FZ_EVAL_MOD} = 0
    ),
    train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_FZ_EVAL_MOD} <> 0
      UNION ALL
      SELECT doc_id + {_FZ_V_OFFSET}, text FROM evald
      WHERE doc_id % {_FZ_VERBATIM_MOD} = 0
      UNION ALL
      SELECT doc_id + {_FZ_P_OFFSET}, {cut90}
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM evald)
      WHERE doc_id % {_FZ_VERBATIM_MOD} <> 0
      UNION ALL
      SELECT doc_id + {_FZ_N_OFFSET}, {cut40}
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM evald)
    ),
    esh AS (
      SELECT DISTINCT doc_id AS eval_doc_id,
             UNNEST(list_transform(range(1, len(ws) - {_FZ_N - 2}),
                    i -> array_to_string(ws[i : i + {_FZ_N - 1}], ' '))) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM evald)
      WHERE len(ws) >= {_FZ_N}
    ),
    tsh AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(range(1, len(ws) - {_FZ_N - 2}),
                    i -> array_to_string(ws[i : i + {_FZ_N - 1}], ' '))) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM train)
      WHERE len(ws) >= {_FZ_N}
    ),
    esz AS (SELECT eval_doc_id, COUNT(*) AS en FROM esh GROUP BY 1),
    tsz AS (SELECT doc_id, COUNT(*) AS tn FROM tsh GROUP BY 1),
    pairs AS (
      SELECT t.doc_id, e.eval_doc_id, COUNT(*) AS intersection
      FROM tsh t JOIN esh e USING (sh)
      GROUP BY 1, 2
    )
    SELECT p.doc_id, p.eval_doc_id,
           CAST(p.intersection AS BIGINT) AS intersection,
           {sql_round_div('p.intersection * 1.0',
                          'tsz.tn + esz.en - p.intersection', 6)} AS jaccard
    FROM pairs p
    JOIN tsz USING (doc_id)
    JOIN esz USING (eval_doc_id)
    WHERE p.intersection * 10 >= (tsz.tn + esz.en - p.intersection) * 8
    ORDER BY doc_id, eval_doc_id
    """


@register(
    "eval_decontaminate_fuzzy_minhash",
    _fuzzy_oracle(),
    bench=True,  # banded-LSH asymmetric join shape
    doc="fuzzy eval-set decontamination (the "
    "Llama-report / GPT-4-report shape): flag every (train doc, eval "
    "doc) pair whose 13-gram shingle sets reach Jaccard >= 0.8, via "
    "MinHash(128 perms) + banded LSH(32 bands x 4 rows) candidates "
    "re-verified with EXACT set intersection — composes "
    "eval_decontaminate_exact_ngrams's eval framing with the "
    "registered banded-LSH machinery, catching paraphrased/truncated "
    "leaks the exact 13-gram hit test misses only when >=13-token "
    "runs survive verbatim. Planted witnesses: verbatim leaks "
    "(J = 1), 90%-prefix leaks (J ~ 0.83-0.88, MUST flag), and "
    "40%-prefix negatives (J < 0.35, MUST NOT flag). Oracle is the "
    "proven band contract: exhaustive exact-Jaccard >= 0.8 pairs, "
    "with the threshold compared as integers (10*∩ >= 8*∪). 100 TB "
    "shape: the eval side is tiny by definition, so its band entries "
    "AND its hashed shingle arrays broadcast — the corpus side is one "
    "map-only signature pass plus a band-keyed broadcast join; "
    "verification touches candidate pairs only, and nothing ever "
    "shuffles the corpus text.",
)
def eval_decontaminate_fuzzy_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
        hashed_shingle_arrays,
        minhash_signatures_from_hashes,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    evald = docs.filter(F.col("doc_id") % _FZ_EVAL_MOD == 0)
    ew = evald.select("doc_id", F.split("text", " ").alias("ws"))
    train = (
        docs.filter(F.col("doc_id") % _FZ_EVAL_MOD != 0)
        .unionByName(
            evald.filter(F.col("doc_id") % _FZ_VERBATIM_MOD == 0).select(
                (F.col("doc_id") + _FZ_V_OFFSET).alias("doc_id"), "text"
            )
        )
        .unionByName(
            ew.filter(F.col("doc_id") % _FZ_VERBATIM_MOD != 0).select(
                (F.col("doc_id") + _FZ_P_OFFSET).alias("doc_id"),
                F.expr(_FZ_CUT_SPARK.format(num=9, den=10)).alias("text"),
            )
        )
        .unionByName(
            ew.select(
                (F.col("doc_id") + _FZ_N_OFFSET).alias("doc_id"),
                F.expr(_FZ_CUT_SPARK.format(num=2, den=5)).alias("text"),
            )
        )
    )

    # one shingle pass per side feeds signatures AND exact verification
    # (the minhash_lsh_near_dups cache discipline); the eval side is
    # tiny, so everything eval-derived broadcasts. fan_out BEFORE the
    # shingle hashing: spreading after it would leave the expensive
    # 13-gram hash projection on the handful of pre-exchange tasks the
    # single-split fixture scan provides (no-op on a
    # real many-split corpus).
    # dense=True: the 13-gram build + xxhash is compute-dense
    # (A/B: the size-aware byte floor lost 0.62x on this query)
    th = hashed_shingle_arrays(
        fan_out(train, dense=True), "text", _FZ_N
    ).cache()
    eh = hashed_shingle_arrays(evald, "text", _FZ_N).cache()
    tsig = minhash_signatures_from_hashes(th, "hs", _FZ_PERM)
    esig = minhash_signatures_from_hashes(eh, "hs", _FZ_PERM)

    def bands(sig: DataFrame) -> DataFrame:
        entries = F.transform(
            F.sequence(F.lit(0), F.lit(_FZ_BANDS - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    F.slice(F.col("sig"), b * _FZ_ROWS + 1, _FZ_ROWS)
                ).alias("bucket"),
            ),
        )
        return sig.select(
            "doc_id", F.explode(entries).alias("e")
        ).select("doc_id", "e.band", "e.bucket")

    cand = (
        bands(tsig)
        .join(
            F.broadcast(
                bands(esig).withColumnRenamed("doc_id", "eval_doc_id")
            ),
            ["band", "bucket"],
        )
        .select("doc_id", "eval_doc_id")
        .distinct()
    )
    ev = eh.select(
        F.col("doc_id").alias("eval_doc_id"), F.col("hs").alias("e_hs")
    )
    inter = F.size(F.array_intersect("hs", "e_hs"))
    tot = F.size(F.array_distinct("hs")) + F.size(F.array_distinct("e_hs"))
    out = (
        th.join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(ev), "eval_doc_id")
        .select(
            "doc_id",
            "eval_doc_id",
            inter.cast("long").alias("intersection"),
            (tot - inter).alias("_union"),
        )
        .filter(F.col("intersection") * 10 >= F.col("_union") * 8)
        .select(
            "doc_id",
            "eval_doc_id",
            "intersection",
            round_div(
                F.col("intersection") * 1.0, F.col("_union"), 6
            ).alias("jaccard"),
        )
        .orderBy("doc_id", "eval_doc_id")
    )
    # force the tiny pair result, then release the corpus-sized blocks
    out = out.localCheckpoint(eager=True)
    th.unpersist(blocking=False)
    eh.unpersist(blocking=False)
    return out


# --------------------------------------------------------------------
# domain_dedup_quality_gate
# --------------------------------------------------------------------

_DG_SPAM_MOD = 17  # every 17th doc seeds the planted spam-farm domain
_DG_STUB_MOD = 19  # every 19th doc seeds the planted stub-farm domain
_DG_SPAM_OFF1 = 4_000_000_000
_DG_SPAM_OFF2 = 4_500_000_000
_DG_STUB_OFF = 5_000_000_000
_DG_DUP_PCT = 20  # drop a domain when > 20% of its docs are dup copies
_DG_MIN_AVG_CHARS = 200  # drop a domain whose mean doc length is under


def _domain_gate_oracle() -> str:
    return f"""
    WITH alldocs AS (
      SELECT doc_id, source, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + {_DG_SPAM_OFF1}, 'spamfarm', text, n_chars
      FROM documents WHERE doc_id % {_DG_SPAM_MOD} = 0
      UNION ALL
      SELECT doc_id + {_DG_SPAM_OFF2}, 'spamfarm', text, n_chars
      FROM documents WHERE doc_id % {_DG_SPAM_MOD} = 0
      UNION ALL
      SELECT doc_id + {_DG_STUB_OFF}, 'stubfarm', stub,
             length(stub)
      FROM (SELECT doc_id,
                   array_to_string(string_split(text, ' ')[1:5], ' ')
                     AS stub
            FROM documents)
      WHERE doc_id % {_DG_STUB_MOD} = 0
    ),
    dom AS (
      SELECT source,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT md5(text)) AS n_distinct,
             SUM(n_chars) AS sum_chars
      FROM alldocs GROUP BY source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           {sql_round_div('(n_docs - n_distinct) * 1.0', 'n_docs', 4)}
             AS dup_rate,
           {sql_round_div('sum_chars * 1.0', 'n_docs', 4)} AS avg_chars,
           NOT (
             (n_docs - n_distinct) * 100 > n_docs * {_DG_DUP_PCT}
             OR sum_chars < {_DG_MIN_AVG_CHARS} * n_docs
           ) AS keep_domain
    FROM dom
    ORDER BY source
    """


@register(
    "domain_dedup_quality_gate",
    _domain_gate_oracle(),
    doc="domain-level dedup + quality gate — the C4/RefinedWeb 'kill "
    "the spam farm, not the document' decision: per source domain, "
    "the exact-duplicate rate (content digests) and the mean document "
    "length jointly gate the WHOLE domain (drop when > 20% dup copies "
    "or mean length < 200 chars). Where domain_frequency_cap CAPS a "
    "domain's share, this drops degenerate domains outright — the "
    "step that runs before any per-document filter spends compute on "
    "spam. Planted witnesses: a 'spamfarm' domain of two verbatim "
    "copies per seed doc (dup_rate ~ 2/3, dies on dedup) and a "
    "'stubfarm' domain of 5-token stubs (dies on quality); every "
    "organic fixture domain passes both gates. Gates compare as "
    "cross-multiplied integers; display ratios go through the decimal "
    "route. 100 TB shape: ONE domain-keyed aggregate over content "
    "digests (map-side combine; the digest caps shuffle width), "
    "output bounded by |domains| — the per-doc keep flag is then a "
    "broadcast join of this table, which stays a few KB per million "
    "domains.",
)
def domain_dedup_quality_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "text", "n_chars")
    spam_seed = docs.filter(F.col("doc_id") % _DG_SPAM_MOD == 0)
    stub = docs.filter(F.col("doc_id") % _DG_STUB_MOD == 0).select(
        (F.col("doc_id") + _DG_STUB_OFF).alias("doc_id"),
        F.lit("stubfarm").alias("source"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5)).alias("text"),
    )
    alldocs = (
        base.unionByName(
            spam_seed.select(
                (F.col("doc_id") + _DG_SPAM_OFF1).alias("doc_id"),
                F.lit("spamfarm").alias("source"),
                "text",
                "n_chars",
            )
        )
        .unionByName(
            spam_seed.select(
                (F.col("doc_id") + _DG_SPAM_OFF2).alias("doc_id"),
                F.lit("spamfarm").alias("source"),
                "text",
                "n_chars",
            )
        )
        .unionByName(
            stub.withColumn("n_chars", F.length("text").cast("long"))
        )
    )
    dom = alldocs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5(F.encode("text", "utf-8"))).alias(
            "n_distinct"
        ),
        F.sum("n_chars").alias("sum_chars"),
    )
    dropped = (
        (F.col("n_docs") - F.col("n_distinct")) * 100
        > F.col("n_docs") * _DG_DUP_PCT
    ) | (F.col("sum_chars") < _DG_MIN_AVG_CHARS * F.col("n_docs"))
    return dom.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        round_div(
            (F.col("n_docs") - F.col("n_distinct")) * 1.0,
            F.col("n_docs"), 4,
        ).alias("dup_rate"),
        round_div(F.col("sum_chars") * 1.0, F.col("n_docs"), 4).alias(
            "avg_chars"
        ),
        (~dropped).alias("keep_domain"),
    ).orderBy("source")


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


# --------------------------------------------------------------------
# eval_decontaminate_semantic
# --------------------------------------------------------------------

_ES_SCALE = 1_000_000  # the repo-wide round(x*1e6) int64 quantization
_ES_DIM = 64
_ES_EVAL_MOD = 23  # vec_id % 23 == 0 plays the held-out eval set
_ES_NUM, _ES_DEN = 361, 400  # cos >= 0.95  <=>  400*dot^2 >= 361*|a|^2*|b|^2
_ES_V_OFFSET = 2_000_000_000  # planted verbatim eval copies (cos = 1)
_ES_H_OFFSET = 2_010_000_000  # half-scale copies (cos ~ 1: scale-free)
_ES_N_OFFSET = 2_020_000_000  # negated copies (dot < 0: never flag)


def _esem_oracle() -> str:
    q = (
        "list_transform(embedding, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {_ES_SCALE}) AS BIGINT))"
    )
    return f"""
    WITH evs AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_ES_EVAL_MOD} = 0
    ),
    train AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_ES_EVAL_MOD} <> 0
      UNION ALL
      SELECT vec_id + {_ES_V_OFFSET}, embedding FROM evs
      UNION ALL
      SELECT vec_id + {_ES_H_OFFSET},
             list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT))
      FROM evs
      UNION ALL
      SELECT vec_id + {_ES_N_OFFSET},
             list_transform(embedding, x -> CAST(-x AS FLOAT))
      FROM evs
    ),
    tq AS (SELECT vec_id, {q} AS qv FROM train),
    eq AS (SELECT vec_id, {q} AS qv FROM evs),
    tp AS (
      SELECT vec_id, g.i AS pos, qv[g.i + 1] AS v
      FROM tq CROSS JOIN (SELECT UNNEST(range(0, {_ES_DIM})) AS i) g
    ),
    ep AS (
      SELECT vec_id, g.i AS pos, qv[g.i + 1] AS v
      FROM eq CROSS JOIN (SELECT UNNEST(range(0, {_ES_DIM})) AS i) g
    ),
    tn AS (SELECT vec_id, SUM(v * v) AS n2 FROM tp GROUP BY vec_id),
    en AS (SELECT vec_id, SUM(v * v) AS n2 FROM ep GROUP BY vec_id),
    dots AS (
      SELECT tp.vec_id AS vec_id, ep.vec_id AS eval_vec_id,
             SUM(tp.v * ep.v) AS dot
      FROM tp JOIN ep ON tp.pos = ep.pos
      GROUP BY tp.vec_id, ep.vec_id
    )
    SELECT d.vec_id, d.eval_vec_id, CAST(d.dot AS BIGINT) AS dot
    FROM dots d
    JOIN tn ON tn.vec_id = d.vec_id
    JOIN en ON en.vec_id = d.eval_vec_id
    WHERE d.dot >= 0
      AND {_ES_DEN} * d.dot * d.dot >= {_ES_NUM} * tn.n2 * en.n2
    ORDER BY d.vec_id, d.eval_vec_id
    """


@register(
    "eval_decontaminate_semantic",
    _esem_oracle(),
    bench=True,
    doc="semantic (embedding-space) eval-set decontamination — the "
    "third leg of the family: exact 13-grams catch verbatim leaks, "
    "fuzzy MinHash catches near-verbatim ones, and this flags every "
    "(train vector, eval vector) pair whose cosine reaches the "
    "SemDeDup threshold 0.95 — the paraphrased-leak screen lexical "
    "tests cannot do. Arithmetic is the repo's exact-integer cosine "
    "contract: round(x*1e6) int64 quantization, threshold as "
    "400*dot^2 >= 361*|a|^2*|b|^2 through decimal(38) (dot^2 can "
    "reach ~1e24), dot >= 0 guard — no float boundary on either "
    "engine. Planted witnesses: verbatim eval copies (cos = 1, MUST "
    "flag against exactly their own eval vector), half-scale copies "
    "(MUST flag — cosine is scale-free, so a dot threshold would "
    "miss them), negated copies (dot < 0, MUST NOT flag). 100 TB "
    "shape: the eval set is bounded by definition, so its quantized "
    "(E x dim) int64 matrix ships inside the Arrow-batched dot UDF "
    "closure (the brute_cosine broadcast-matmul discipline; numpy "
    "int64 matmul is exact, |dot| <= 64e12 << 2^63) — the corpus "
    "side is ONE map-only pass, zero shuffle, nothing collected but "
    "the eval set itself; the decimal(38) threshold filter stays "
    "JVM-side. For eval suites past ~10k vectors, pre-block with the "
    "registered ann_lsh/ann_ivf machinery exactly as README "
    "documents for SemDeDup.",
)
def eval_decontaminate_semantic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
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
    # the eval side is bounded by definition: collect its quantized
    # vectors and ship the (E x dim) int64 matrix inside the Arrow UDF
    # closure — the corpus never joins, it folds map-side against the
    # broadcast matrix. numpy int64 matmul is exact modular integer
    # arithmetic and |dot| <= dim * scale^2 = 64e12 << 2^63, so the
    # exact-integer contract holds bit-for-bit; the decimal(38)
    # threshold square stays JVM-side below. (This replaced a literal
    # array-of-structs expression whose E x dim F.lit tree cost more
    # in py4j construction + interpreted zip_with evaluation than the
    # whole data pass: isolated min-of-4 at sf0.1 4.28 -> 1.41 s.)
    ev_rows = sorted(
        evs.select("vec_id", quant(F.col("embedding")).alias("q")).collect(),
        key=lambda r: r["vec_id"],
    )
    ev_mat = np.array([[int(c) for c in r["q"]] for r in ev_rows], np.int64)
    ev_ids = np.array([int(r["vec_id"]) for r in ev_rows], dtype=np.int64)
    ev_n2 = (ev_mat * ev_mat).sum(axis=1)  # exact: 64e12 << 2^63

    # the kernel emits only SCREENED
    # candidate pairs instead of posexploding every (train x eval) dot
    # into E rows per train vector — the within_cluster_pair_dots
    # pattern. tn2 moves into the same numpy pass (exact int64,
    # replacing the interpreted per-row aggregate fold), the screen is
    # dot >= 0 plus the float64 threshold with relative slack 1e-12
    # (~3 orders wider than worst-case float64 error of the two
    # products, so the emitted set is a guaranteed SUPERSET), and the
    # exact decimal(38) contract below is UNCHANGED — the flagged set
    # is bit-identical (pinned by tests/test_quality_queries.py::
    # test_esem_candidate_kernel_matches_explode_path). The n2
    # products are compared in float64 because tn2 * en2 (~4e27)
    # overflows int64 — same discipline as the pair-dot kernel.
    rhs_f = float(_ES_NUM) * (1.0 - 1e-12)
    en2_f = ev_n2.astype(np.float64)

    def _cand(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["tv"].to_numpy()).astype(np.int64)
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            tn2 = (x * x).sum(axis=1)  # exact int64
            dots = x @ ev_mat.T  # (batch, E) exact int64
            d_f = dots.astype(np.float64)
            screen = (dots >= 0) & (
                float(_ES_DEN) * d_f * d_f
                >= rhs_f * tn2.astype(np.float64)[:, None] * en2_f[None, :]
            )
            ti, ej = np.nonzero(screen)
            if ti.size:
                yield pd.DataFrame(
                    {
                        "vec_id": ids[ti],
                        "eval_vec_id": ev_ids[ej],
                        "dot": dots[ti, ej],
                        "tn2": tn2[ti],
                        "en2": ev_n2[ej],
                    }
                )

    tq = fan_out(train.select("vec_id", quant(F.col("embedding")).alias("tv")))
    pairs = tq.mapInPandas(
        _cand,
        schema="vec_id long, eval_vec_id long, dot long, tn2 long, en2 long",
    )
    dec = "decimal(38,0)"
    flagged = pairs.filter(
        (F.col("dot") >= 0)
        & (
            F.col("dot").cast(dec) * F.col("dot").cast(dec) * _ES_DEN
            >= F.col("tn2").cast(dec) * F.col("en2").cast(dec) * _ES_NUM
        )
    )
    return flagged.select("vec_id", "eval_vec_id", "dot").orderBy(
        "vec_id", "eval_vec_id"
    )


# portable 60-bit hash twins (the hashed_linear_quality_score idiom)
_H60_SQL = "(('0x' || substring(md5({e}), 1, 15))::BIGINT)"


def _h60(col: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


# --------------------------------------------------------------------
# quality_calibration_ece
# --------------------------------------------------------------------

_EC_BUCKETS = 256  # feature buckets — MUST match the registered scorer
_EC_WSPAN = 2001  # weight = h60('w:'||bucket) % 2001 - 1000 (ditto)
_EC_LABEL_CHARS = 300  # ground truth: n_chars >= 300 (the sweep's label)
_EC_BINS = 10  # reliability-diagram bins over confidence [0, 1]


def _ece_oracle() -> str:
    fb = _H60_SQL.format(e="concat('f:', tok)")
    wb = _H60_SQL.format(e="concat('w:', CAST(bucket AS VARCHAR))")
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    feat AS (
      SELECT doc_id, ({fb}) % {_EC_BUCKETS} AS bucket FROM tok
    ),
    docsc AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             SUM(({wb}) % {_EC_WSPAN} - 1000) AS raw_milli
      FROM feat GROUP BY doc_id
    ),
    conf AS (
      SELECT s.doc_id, s.n_tokens, s.raw_milli,
             CAST(ROUND(CAST(
               ((s.raw_milli + 1000 * s.n_tokens) * 1000.0)
                 / (2000.0 * s.n_tokens)
               AS DECIMAL(28,8)), 0) AS BIGINT) AS conf_milli,
             (s.raw_milli > 0) AS pred,
             (d.n_chars >= {_EC_LABEL_CHARS}) AS label
      FROM docsc s JOIN documents d USING (doc_id)
    )
    SELECT LEAST(conf_milli // 100, {_EC_BINS - 1}) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_round_div('SUM(conf_milli) * 1.0', '1000.0 * COUNT(*)')}
             AS mean_conf,
           {sql_round_div(
               'SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) * 1.0',
               'COUNT(*)')} AS accuracy
    FROM conf
    GROUP BY 1
    ORDER BY bin
    """


@register(
    "quality_calibration_ece",
    _ece_oracle(),
    doc="reliability diagram for the registered hashed linear quality "
    "scorer (Guo et al. 2017's calibration decomposition): per-doc "
    "confidence = the score mapped onto [0,1] and quantized to "
    "integer milli through the decimal half-up route, 10 integer "
    "bins, per-bin doc count, mean confidence, and empirical accuracy "
    "of the keep decision (raw_milli > 0) against the same n_chars "
    ">= 300 ground truth quality_threshold_sweep uses — the ECE "
    "statistic is the n-weighted |accuracy - confidence| sum over "
    "these rows (pytest replays it engine-free). A production filter "
    "stack needs this before treating classifier scores as keep "
    "probabilities (CCNet/RefinedWeb style soft sampling). 100 TB "
    "shape: ONE token-level map + doc-keyed aggregate (map-side "
    "combine) + one 10-row hash aggregate — no joins beyond the "
    "documents-side label lookup, which stays in the same scan.",
)
def quality_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    toks = fan_out(docs).select(
        "doc_id",
        "n_chars",
        F.explode(F.split("text", " ")).alias("tok"),
    )
    bucket = F.pmod(
        _h60(F.concat(F.lit("f:"), F.col("tok"))), F.lit(_EC_BUCKETS)
    )
    w = (
        F.pmod(
            _h60(F.concat(F.lit("w:"), bucket.cast("string"))),
            F.lit(_EC_WSPAN),
        )
        - 1000
    )
    docsc = toks.groupBy("doc_id").agg(
        F.min("n_chars").alias("n_chars"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(w).cast("long").alias("raw_milli"),
    )
    conf_milli = F.round(
        (
            ((F.col("raw_milli") + 1000 * F.col("n_tokens")) * 1000.0)
            / (2000.0 * F.col("n_tokens"))
        ).cast("decimal(28,8)"),
        0,
    ).cast("long")
    conf = docsc.select(
        conf_milli.alias("conf_milli"),
        (F.col("raw_milli") > 0).alias("pred"),
        (F.col("n_chars") >= _EC_LABEL_CHARS).alias("label"),
    )
    return (
        conf.groupBy(
            F.least(
                F.floor(F.col("conf_milli") / 100), F.lit(_EC_BINS - 1)
            )
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            round_div(
                F.sum("conf_milli") * 1.0, 1000.0 * F.count(F.lit(1))
            ).alias("mean_conf"),
            round_div(
                F.sum(
                    F.when(F.col("pred") == F.col("label"), 1).otherwise(0)
                )
                * 1.0,
                F.count(F.lit(1)),
            ).alias("accuracy"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------
# domain_suffix_optout_filter
# --------------------------------------------------------------------

# blocklist rules: (rule, kind). 'suffix' binds at ANY dot-suffix of
# the doc's domain (the *.rule wildcard); 'exact' binds only when the
# FULL domain equals the rule (suffix position 0). The first four
# rules all fire within the first 50 fixture doc_ids (smallest hits:
# 14, 7, 38, 4); 'ads.site7.org' fires at pos=1 (a PROPER suffix of
# cdn.ads.site7.org), witnessing wildcard binding. The fifth rule is
# the exact-kind NEGATIVE witness: 'site8.org' IS a proper suffix of
# every m=8/org domain but never a full domain (every fixture domain
# carries a sub-label), so it must match NOTHING — an engine that
# wrongly treats 'exact' as 'suffix' blocks those docs and flunks the
# value-hash.
_OO_RULES = [
    ("site3.com", "suffix"),
    ("ads.site7.org", "suffix"),
    ("api.site5.com", "exact"),
    ("cdn.ads.site4.com", "exact"),
    ("site8.org", "exact"),
]


def _optout_oracle() -> str:
    vals = ", ".join(f"('{r}', '{k}')" for r, k in _OO_RULES)
    return f"""
    WITH doms AS (
      SELECT doc_id,
             (CASE doc_id % 3 WHEN 0 THEN 'www'
                              WHEN 1 THEN 'cdn.ads'
                              ELSE 'api' END)
             || '.site' || CAST(doc_id % 11 AS VARCHAR) || '.'
             || (CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END)
               AS domain
      FROM documents
    ),
    rules(rule, kind) AS (VALUES {vals}),
    sfx AS (
      SELECT doc_id, domain, u.i AS pos,
             array_to_string(ws[u.i + 1 : len(ws)], '.') AS sfx
      FROM (SELECT doc_id, domain, string_split(domain, '.') AS ws
            FROM doms),
           UNNEST(range(len(ws))) AS u(i)
    ),
    matches AS (
      SELECT s.doc_id,
             COUNT(*) AS n_rules,
             MIN(r.rule) AS first_rule
      FROM sfx s
      JOIN rules r
        ON s.sfx = r.rule AND (r.kind = 'suffix' OR s.pos = 0)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id, d.domain,
           (m.doc_id IS NOT NULL) AS blocked,
           CAST(COALESCE(m.n_rules, 0) AS BIGINT) AS n_rules,
           COALESCE(m.first_rule, '') AS first_rule
    FROM doms d LEFT JOIN matches m ON d.doc_id = m.doc_id
    ORDER BY d.doc_id
    """


@register(
    "domain_suffix_optout_filter",
    _optout_oracle(),
    doc="opt-out / blocklist suppression with WILDCARD domain rules "
    "(*.tracker.com style) — the governance gate a crawl pipeline "
    "applies before training: each doc's domain (deterministic "
    "doc_id-derived plant, the house idiom) is exploded into its dot-"
    "suffixes — BOUNDED by the label count (<= 4 here; public-suffix "
    "chains cap at ~6) — and equi-joined against the broadcast rule "
    "table, with 'exact' rules binding only at suffix position 0 "
    "(full domain) and 'suffix' rules at any position. This is the "
    "scale-safe formulation of wildcard matching: LIKE '%suffix' has "
    "no equi-key (a cartesian scan per rule), while the suffix "
    "explode turns every wildcard into a hash-join probe. Output is "
    "the per-doc audit (blocked flag, rule count, deterministic "
    "first rule); production applies the identical match as a "
    "broadcast anti-join. 100 TB shape: map-only bounded explode + "
    "one broadcast equi-join + doc-keyed aggregate — rule tables are "
    "KB-scale by nature (opt-out registries), so the join never "
    "shuffles the corpus.",
)
def domain_suffix_optout_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id")
    sub = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("www"))
        .when(F.col("doc_id") % 3 == 1, F.lit("cdn.ads"))
        .otherwise(F.lit("api"))
    )
    tld = F.when(F.col("doc_id") % 2 == 0, F.lit("com")).otherwise(
        F.lit("org")
    )
    domain = F.concat(
        sub,
        F.lit(".site"),
        (F.col("doc_id") % 11).cast("string"),
        F.lit("."),
        tld,
    )
    doms = docs.select("doc_id", domain.alias("domain"))
    ws = F.split("domain", "[.]")
    suffixes = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 1),
        lambda i: F.concat_ws(".", F.slice(ws, i + 1, F.size(ws) - i)),
    )
    exploded = doms.select(
        "doc_id", "domain", F.posexplode(suffixes).alias("pos", "sfx")
    )
    rules = spark.createDataFrame(_OO_RULES, "rule string, kind string")
    matches = (
        exploded.join(
            F.broadcast(rules),
            (F.col("sfx") == F.col("rule"))
            & ((F.col("kind") == "suffix") | (F.col("pos") == 0)),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rules"),
            F.min("rule").alias("first_rule"),
        )
    )
    return (
        doms.join(matches, "doc_id", "left")
        .select(
            "doc_id",
            "domain",
            F.col("n_rules").isNotNull().alias("blocked"),
            F.coalesce(F.col("n_rules"), F.lit(0).cast("long")).alias(
                "n_rules"
            ),
            F.coalesce(F.col("first_rule"), F.lit("")).alias("first_rule"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# bloom_decontaminate_portable
# --------------------------------------------------------------------

_BL_N = 13  # the GPT-3/PaLM decontamination n-gram order
_BL_EVAL_MOD = 59  # doc_id % 59 == 0 plays the held-out eval set
_BL_LEAK_MOD = 2 * _BL_EVAL_MOD  # every 2nd eval doc leaks verbatim
_BL_OFFSET = 2_000_000_000  # leak ids, clear of every other plant regime
_BL_M = 65_536  # bloom bits — sized like production would (from the
# eval gram count and an FP target): sf0.1's ~3.3k distinct eval grams
# * k=4 over 64 Ki bits -> ~18% fill -> ~1e-3 gram FP rate, enough to
# EXERCISE the false-positive accounting at sf0.1 (hundreds of FP
# grams) while sf0.01's ~300 grams round to zero FPs
_BL_K = 4  # hash functions (double hashing)
_BL_WORD = 63  # bits packed per BIGINT word; bit 63 stays clear because
# DuckDB raises Out of Range on 1::BIGINT << 63 while Spark wraps to the
# sign bit — 63-per-word keeps every mask positive and both engines exact
_BL_NWORDS = (_BL_M + _BL_WORD - 1) // _BL_WORD  # 1041


def _bl_positions_sql(g: str) -> list[str]:
    """The k double-hashed bit positions of gram-hash ``g`` (DuckDB
    expression strings) — mirrors _bl_positions_col exactly."""
    h2 = f"(1 + ({g}) % {_BL_M - 1})"
    return [
        f"((({g}) % {_BL_M} + {j} * {h2}) % {_BL_M})" for j in range(_BL_K)
    ]


def _bl_positions_col(g: Column) -> list[Column]:
    h2 = F.lit(1) + F.pmod(g, F.lit(_BL_M - 1))
    return [
        F.pmod(F.pmod(g, F.lit(_BL_M)) + F.lit(j) * h2, F.lit(_BL_M))
        for j in range(_BL_K)
    ]


def _bloom_oracle() -> str:
    h60 = (
        "(('0x' || substring(md5(array_to_string("
        f"list_slice(ws, i, i + {_BL_N - 1}), ' ')), 1, 15))::BIGINT)"
    )
    gram_src = (
        f"UNNEST(list_transform(range(1, len(ws) - {_BL_N - 1} + 1), "
        f"i -> {h60}))"
    )
    probe_terms = []
    for pos in _bl_positions_sql("g"):
        mask = f"(1::BIGINT << CAST(({pos}) % {_BL_WORD} AS INTEGER))"
        probe_terms.append(
            f"((arr[CAST(({pos}) // {_BL_WORD} AS INTEGER) + 1] "
            f"& {mask}) = {mask})"
        )
    bloom_pos = " AND ".join(probe_terms)
    pos_union = " UNION ALL ".join(
        f"SELECT {p} AS pos FROM eg" for p in _bl_positions_sql("g")
    )
    return f"""
    WITH train AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % {_BL_EVAL_MOD} <> 0
      UNION ALL
      SELECT doc_id + {_BL_OFFSET}, text FROM documents
      WHERE doc_id % {_BL_LEAK_MOD} = 0
    ),
    eg AS (
      SELECT DISTINCT {gram_src} AS g
      FROM (SELECT string_split(text, ' ') AS ws FROM documents
            WHERE doc_id % {_BL_EVAL_MOD} = 0)
      WHERE len(ws) >= {_BL_N}
    ),
    bits AS ({pos_union}),
    words AS (
      SELECT CAST(pos // {_BL_WORD} AS INTEGER) AS widx,
             bit_or(1::BIGINT << CAST(pos % {_BL_WORD} AS INTEGER)) AS w
      FROM bits GROUP BY 1
    ),
    ba AS (
      SELECT list(COALESCE(w.w, 0::BIGINT) ORDER BY gs.i) AS arr
      FROM range(0, {_BL_NWORDS}) gs(i)
      LEFT JOIN words w ON w.widx = gs.i
    ),
    tg AS (
      SELECT doc_id, {gram_src} AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM train)
      WHERE len(ws) >= {_BL_N}
    ),
    probe AS (
      SELECT doc_id, ({bloom_pos}) AS bloom_pos FROM tg, ba
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom
      FROM probe GROUP BY 1
    ),
    ex AS (
      SELECT tg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM tg JOIN eg USING (g) GROUP BY 1
    )
    SELECT t.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_bloom, 0) AS n_bloom_pos,
           COALESCE(e.n_exact, 0) AS n_exact,
           COALESCE(p.n_bloom, 0) - COALESCE(e.n_exact, 0) AS n_false_pos,
           COALESCE(p.n_bloom, 0) > 0 AS contaminated_bloom,
           COALESCE(e.n_exact, 0) > 0 AS contaminated_exact
    FROM train t
    LEFT JOIN perdoc p USING (doc_id)
    LEFT JOIN ex e USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "bloom_decontaminate_portable",
    _bloom_oracle(),
    bench=True,
    doc="eval-set decontamination through a PORTABLE Bloom filter — "
    "the documented scale fallback of eval_decontaminate_exact_ngrams "
    "when the eval gram set outgrows the broadcast threshold, "
    "here given a registered witness. The filter is bit-for-bit "
    "deterministic across engines: 60-bit md5 gram hashes, double "
    "hashing h1+j*h2 mod m (k=4, m=64Ki bits), bits packed 63-per-"
    "BIGINT via bit_or (bit 63 clear — DuckDB raises on 1<<63). The "
    "built word array is a BOUNDED driver value (1041 longs — model-"
    "size, not data-size) shipped into a map-side probe expression, "
    "so the corpus pass needs NO per-gram shuffle and NO join: one "
    "doc-keyed aggregate (exact membership rides the same pass as a "
    "broadcast left join, so the md5-per-window projection is never "
    "recomputed). m is sized from the eval gram count and an FP "
    "target, production-style, making sf0.1 exercise the FP "
    "accounting (hundreds of FP grams) while the Bloom no-false-"
    "negative contract (n_bloom_pos >= n_exact; every planted leak "
    "flagged) is pytest-pinned. 100 TB shape: the bloom array scales with m "
    "(bits / 63 longs) NOT with corpus size — a 1e9-gram eval set at "
    "1% FP is ~1.2 GB of words, still an executor-memory constant "
    "while the broadcast-set exact variant would ship 8+ GB of raw "
    "hashes; corpus side stays map-only + one aggregate either way.",
)
def bloom_decontaminate_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % _BL_EVAL_MOD != 0).unionByName(
        docs.filter(F.col("doc_id") % _BL_LEAK_MOD == 0).select(
            (F.col("doc_id") + _BL_OFFSET).alias("doc_id"), "text"
        )
    )

    def grams(df: DataFrame, spread: bool = True) -> DataFrame:
        # fan_out BEFORE the md5-per-window projection (single-split
        # single-split finding); no-op on a many-split corpus. The
        # EVAL side skips it: ~1/59 of the docs produce a few
        # thousand windows — single-digit ms of md5 — so spreading
        # them over defaultParallelism tasks was pure exchange and
        # task-overhead cost on both eval passes. dense=True:
        # the md5-per-window projection is compute-dense, so the
        # size-aware byte floor starved it (A/B: floor lost 0.78x).
        toks = (
            (fan_out(df, dense=True) if spread else df)
            .select("doc_id", F.split("text", " ").alias("ws"))
            .filter(F.size("ws") >= _BL_N)
        )
        h = lambda i: portable_hash60(  # noqa: E731
            F.concat_ws(" ", F.slice(F.col("ws"), i, _BL_N))
        )
        return toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (_BL_N - 1)), h
                )
            ).alias("g"),
        )

    # materialize the distinct eval grams ONCE (bounded: the eval set
    # is tiny by definition — ~3.3k longs at sf0.1): both consumers
    # (the bloom bits fold below and the exact-membership broadcast)
    # otherwise re-run the eval scan + md5 pipeline
    eval_grams = (
        grams(docs.filter(F.col("doc_id") % _BL_EVAL_MOD == 0), spread=False)
        .select("g")
        .distinct()
        .localCheckpoint(eager=True)
    )
    bits = eval_grams.select(
        F.explode(F.array(*_bl_positions_col(F.col("g")))).alias("pos")
    )
    # shiftleft's python wrapper takes only int literals; the SQL form
    # accepts a column-valued shift amount
    words = (
        bits.select(
            F.floor(F.col("pos") / _BL_WORD).cast("int").alias("widx"),
            F.expr(
                f"shiftleft(1L, cast(pos % {_BL_WORD} as int))"
            ).alias("mask"),
        )
        .groupBy("widx")
        .agg(F.bit_or("mask").alias("w"))
    )
    # bounded collect: <= _BL_NWORDS = 1041 longs — the bloom's size is a
    # MODEL constant (bits/63), independent of corpus size
    arr = [0] * _BL_NWORDS
    for row in words.collect():
        arr[row["widx"]] = row["w"]
    # array literal via ONE parsed SQL expression: F.lit(list) walks the
    # list element-by-element over py4j (measured 0.56 s for 1041 longs
    # at construction time); the parser ingests the same array in
    # milliseconds and constant folding collapses it to the identical
    # single Literal before execution. The literal form is only safe
    # because _BL_WORD = 63 keeps bit 63 of every word clear — a word
    # equal to Long.MIN_VALUE has no SQL long-literal spelling; the
    # assert ties this line to that invariant so a future
    # move to 64-bit packing fails loudly here, not in the parser.
    assert all(w >= 0 for w in arr), "bloom word sets bit 63; see _BL_WORD"
    ba = F.expr(f"array({','.join(f'{w}L' for w in arr)})")

    # materialize the k probe positions as named columns so the
    # column-shift masks can ride F.expr (same wrapper limitation)
    tg = grams(train).select(
        "doc_id",
        "g",
        *[
            pos.alias(f"pos_{j}")
            for j, pos in enumerate(_bl_positions_col(F.col("g")))
        ],
    )
    probe_flags = []
    for j in range(_BL_K):
        mask = F.expr(f"shiftleft(1L, cast(pos_{j} % {_BL_WORD} as int))")
        word = F.get(
            ba, F.floor(F.col(f"pos_{j}") / _BL_WORD).cast("int")
        )
        probe_flags.append(word.bitwiseAND(mask) == mask)
    bloom_pos = probe_flags[0]
    for flag in probe_flags[1:]:
        bloom_pos = bloom_pos & flag

    # ONE pass over the corpus grams: the bloom probe is a map-side
    # expression and exact membership rides the same pass as a
    # broadcast left join — the md5-per-window projection (the real
    # cost) is never recomputed
    marked = tg.join(
        F.broadcast(eval_grams.withColumn("is_exact", F.lit(1))),
        "g",
        "left",
    )
    perdoc = (
        marked.select(
            "doc_id", bloom_pos.alias("bloom_pos"), "is_exact"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.col("bloom_pos").cast("int")).cast("long").alias(
                "n_bloom"
            ),
            F.sum(F.coalesce("is_exact", F.lit(0))).cast("long").alias(
                "n_exact"
            ),
        )
    )
    z = F.lit(0).cast("long")
    return (
        train.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", z).alias("n_grams"),
            F.coalesce("n_bloom", z).alias("n_bloom_pos"),
            F.coalesce("n_exact", z).alias("n_exact"),
            (F.coalesce("n_bloom", z) - F.coalesce("n_exact", z)).alias(
                "n_false_pos"
            ),
            (F.coalesce("n_bloom", z) > 0).alias("contaminated_bloom"),
            (F.coalesce("n_exact", z) > 0).alias("contaminated_exact"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# l_diversity_check
# --------------------------------------------------------------------

_LD_L = 3  # distinct-l-diversity threshold
_LD_BAL_BUCKET = 250  # account-balance bucket width (quasi-identifier)


def _ldiv_oracle() -> str:
    return f"""
    WITH j AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             CAST(floor(c.c_acctbal / {_LD_BAL_BUCKET}) AS BIGINT)
               AS bal_bucket,
             o.o_orderpriority
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    )
    SELECT c_nationkey, c_mktsegment, bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
             AS n_sensitive,
           COUNT(DISTINCT o_orderpriority) < {_LD_L} AS violates_l
    FROM j
    GROUP BY 1, 2, 3
    ORDER BY c_nationkey, c_mktsegment, bal_bucket
    """


@register(
    "l_diversity_check",
    _ldiv_oracle(),
    doc=f"distinct-l-diversity audit (l={_LD_L}; Machanavajjhala et "
    "al. 2007) — the disclosure k-anonymity cannot see: a group can "
    "satisfy k yet expose every member when all its rows share one "
    "sensitive value (homogeneity attack). Quasi-identifiers are "
    "(nation, market segment, account-balance bucket); the sensitive "
    "attribute is order priority, reached through the natural "
    "customer-orders equi-join. Violating groups (n_sensitive < l) "
    "are exactly the rows a suppression/generalization pass would "
    "rewrite before release — the fixture yields real violations at "
    "every checked scale factor. Completes the registered privacy "
    "family: k_anonymity_check (group SIZE), text_pii_scan/redact "
    "(direct identifiers), this (sensitive-value DIVERSITY). 100 TB "
    "shape: one fact-dim equi-join then one hash aggregate whose "
    "distinct-count state is bounded by the sensitive domain (5 "
    "priorities), with group count bounded by the quasi-identifier "
    "domain, not row count.",
)
def l_diversity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _LD_BAL_BUCKET)
        .cast("long")
        .alias("bal_bucket"),
        "o_orderpriority",
    )
    return (
        j.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.count_distinct("o_orderpriority")
            .cast("long")
            .alias("n_sensitive"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_bucket",
            "n_orders",
            "n_sensitive",
            (F.col("n_sensitive") < _LD_L).alias("violates_l"),
        )
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    )


# --------------------------------------------------------------------
# t_closeness_check
# --------------------------------------------------------------------

_TC_BAL_BUCKET = 250  # same QI grain as l_diversity_check
_TC_NUM = 1  # t = 1/4: alert when EMD > 0.25
_TC_DEN = 4


def _tcl_oracle() -> str:
    return f"""
    WITH j AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             CAST(floor(c.c_acctbal / {_TC_BAL_BUCKET}) AS BIGINT)
               AS bal_bucket,
             o.o_orderpriority AS pr
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    grp AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket, pr,
             COUNT(*) AS gcnt
      FROM j GROUP BY 1, 2, 3, 4
    ),
    gl AS (SELECT pr, SUM(gcnt) AS n FROM grp GROUP BY 1),
    gtot AS (SELECT SUM(n) AS tot_n, COUNT(*) AS m FROM gl),
    gsz AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket, SUM(gcnt) AS gsize
      FROM grp GROUP BY 1, 2, 3
    ),
    dense AS (
      SELECT gs.c_nationkey, gs.c_mktsegment, gs.bal_bucket,
             gl.pr, gl.n, COALESCE(g.gcnt, 0) AS gcnt, gs.gsize
      FROM gsz gs CROSS JOIN gl
      LEFT JOIN grp g
        ON g.c_nationkey = gs.c_nationkey
       AND g.c_mktsegment = gs.c_mktsegment
       AND g.bal_bucket = gs.bal_bucket
       AND g.pr = gl.pr
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket, gsize,
             SUM(gcnt * (SELECT tot_n FROM gtot) - n * gsize)
               OVER (PARTITION BY c_nationkey, c_mktsegment, bal_bucket
                     ORDER BY pr ROWS UNBOUNDED PRECEDING) AS c
      FROM dense
    )
    SELECT c_nationkey, c_mktsegment, bal_bucket,
           CAST(gsize AS BIGINT) AS n_orders,
           CAST(SUM(ABS(c)) AS BIGINT) AS emd_num,
           {sql_round_div(
               'SUM(ABS(c))',
               '((SELECT m FROM gtot) - 1) * gsize * (SELECT tot_n FROM gtot)',
           )} AS emd,
           {_TC_DEN} * SUM(ABS(c))
             > {_TC_NUM} * ((SELECT m FROM gtot) - 1) * gsize
               * (SELECT tot_n FROM gtot) AS violates_t
    FROM cum
    GROUP BY c_nationkey, c_mktsegment, bal_bucket, gsize
    ORDER BY c_nationkey, c_mktsegment, bal_bucket
    """


def t_closeness_check_from(
    orders: DataFrame, cust: DataFrame
) -> DataFrame:
    """The full t-closeness pipeline over (o_custkey,
    o_orderpriority) x (c_custkey, c_nationkey, c_mktsegment,
    c_acctbal) frames — shared with tools/stress_check.py's
    ``t_closeness`` stage so the stress row always measures the
    shipping shape."""
    j = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _TC_BAL_BUCKET)
        .cast("long")
        .alias("bal_bucket"),
        F.col("o_orderpriority").alias("pr"),
    )
    # the ONLY corpus-sized aggregate; every later frame is bounded by
    # QI-domain x sensitive-domain. localCheckpoint folds the plan so
    # the customer⋈orders join + aggregate runs ONCE — grp feeds three
    # consumers (gl, gsz, dense's left join) and without the fold each
    # re-derives it from the base scans (audited 11→9 exchanges,
    # 8→2 scans, 6→3 broadcasts; the survivors are all QI-bounded
    # post-checkpoint frames). The frame is QI×sensitive-domain bounded
    # (~6.5k rows at sf0.1), so the checkpoint is model-sized state;
    # blocks release with the reference.
    grp = (
        j.groupBy("c_nationkey", "c_mktsegment", "bal_bucket", "pr")
        .agg(F.count(F.lit(1)).alias("gcnt"))
        .localCheckpoint(eager=True)
    )
    gl = grp.groupBy("pr").agg(F.sum("gcnt").alias("n"))
    gtot = gl.agg(
        F.sum("n").alias("tot_n"), F.count(F.lit(1)).alias("m")
    )
    gsz = grp.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.sum("gcnt").alias("gsize")
    )
    dense = (
        gsz.crossJoin(F.broadcast(gl))
        .join(
            grp,
            ["c_nationkey", "c_mktsegment", "bal_bucket", "pr"],
            "left",
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_bucket",
            "pr",
            "n",
            F.coalesce("gcnt", F.lit(0)).alias("gcnt"),
            "gsize",
        )
        .crossJoin(F.broadcast(gtot))
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .orderBy("pr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dense.withColumn(
        "c",
        F.sum(
            F.col("gcnt") * F.col("tot_n") - F.col("n") * F.col("gsize")
        ).over(w),
    )
    return (
        cum.groupBy(
            "c_nationkey", "c_mktsegment", "bal_bucket", "gsize"
        )
        .agg(
            F.sum(F.abs("c")).alias("num"),
            F.first("m").alias("m"),
            F.first("tot_n").alias("tot_n"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_bucket",
            F.col("gsize").cast("long").alias("n_orders"),
            F.col("num").cast("long").alias("emd_num"),
            round_div(
                F.col("num"),
                (F.col("m") - 1) * F.col("gsize") * F.col("tot_n"),
            ).alias("emd"),
            (
                F.lit(_TC_DEN) * F.col("num")
                > F.lit(_TC_NUM)
                * (F.col("m") - 1)
                * F.col("gsize")
                * F.col("tot_n")
            ).alias("violates_t"),
        )
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    )


@register(
    "t_closeness_check",
    _tcl_oracle(),
    bench=True,
    doc=f"t-closeness audit (t = {_TC_NUM}/{_TC_DEN}; Li, Li & "
    "Venkatasubramanian 2007) — the disclosure k-anonymity AND "
    "l-diversity both miss: a group whose sensitive-value "
    "DISTRIBUTION skews far from the global one leaks through the "
    "skew even when it is large and diverse. Ordered sensitive "
    "attribute (order priority), so distance = Earth Mover's "
    "Distance = sum over the cumulative |P - Q| gaps / (m-1), kept "
    "in exact integers via the common-denominator form (gcnt*N - "
    "n*G cumulatives; the tv_distance discipline applied to "
    "privacy); ONE final decimal-route rounding and the alert an "
    "exact cross-multiplied comparison, so the flag can never "
    "disagree across engines on a tie. Same quasi-identifier grain "
    "as l_diversity_check (nation, segment, balance bucket) — the "
    "fixture yields both violating and compliant groups at every "
    "checked scale factor. 100 TB shape: ONE fact-dim join feeding "
    "ONE hash aggregate to (QI, sensitive) cells — everything "
    "after is bounded by QI-domain x sensitive-domain (m=5), with "
    "the cumulative window PARTITIONED by group, never global.",
)
def t_closeness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t_closeness_check_from(
        t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority"),
        t(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
        ),
    )


# --------------------------------------------------------------------
# auc_quality_classifier
# --------------------------------------------------------------------

_AUC_SBUCKET = 20  # score = n_chars div 20 (bucketed -> real ties)
_AUC_NOISE = 31  # label noise modulus (comparable to the score spread)
_AUC_TH = 30  # label threshold: y = 1 iff score + doc_id % 31 >= 30


def _auc_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT lang, n_chars // {_AUC_SBUCKET} AS s,
             CASE WHEN (n_chars // {_AUC_SBUCKET}) + (doc_id % {_AUC_NOISE})
                  >= {_AUC_TH} THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    h AS (
      SELECT lang, s, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM d GROUP BY 1, 2
    ),
    c AS (
      SELECT lang, s, pos, neg,
             COALESCE(SUM(neg) OVER (PARTITION BY lang ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM h
    )
    SELECT lang,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS auc_num2,
           {sql_round_div(
               'SUM(pos * (2 * neg_below + neg))',
               '2 * SUM(pos) * SUM(neg)',
           )} AS auc
    FROM c GROUP BY lang ORDER BY lang
    """


def auc_quality_classifier_from(docs: DataFrame) -> DataFrame:
    """The full per-lang AUC pipeline over a (doc_id, lang, n_chars)
    frame — shared with tools/stress_check.py's ``auc_per_lang`` stage
    so the stress row always measures the shipping shape."""
    s = F.expr(f"n_chars div {_AUC_SBUCKET}")
    y = F.when(
        s + F.col("doc_id") % _AUC_NOISE >= _AUC_TH, F.lit(1)
    ).otherwise(F.lit(0))
    d = docs.select("lang", s.alias("s"), y.alias("y"))
    h = d.groupBy("lang", "s").agg(
        F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = h.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    return (
        c.groupBy("lang")
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("neg").cast("long").alias("n_neg"),
            F.sum(
                F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))
            )
            .cast("long")
            .alias("auc_num2"),
        )
        .select(
            "lang",
            "n_pos",
            "n_neg",
            "auc_num2",
            round_div(
                F.col("auc_num2"), 2 * F.col("n_pos") * F.col("n_neg")
            ).alias("auc"),
        )
        .orderBy("lang")
    )


@register(
    "auc_quality_classifier",
    _auc_oracle(),
    doc="exact tie-aware ROC-AUC of a quality score against binary "
    "labels, PER LANGUAGE — the classifier-bias audit run before "
    "trusting one quality threshold across languages (a score can "
    "discriminate well on en and barely beat chance on zh; the "
    "fixture's planted labels land AUC ~0.6-0.85 across langs at "
    "every checked scale factor, never degenerate 0.5 or 1.0). "
    "Identity: AUC = P(s_pos > s_neg) + P(tie)/2, computed from the "
    "score HISTOGRAM — sum_s pos(s) * (2*neg_below(s) + neg(s)) over "
    "2*n_pos*n_neg — never doc pairs and never a global rank; the "
    "doubled numerator stays an exact integer until the single final "
    "decimal-route division. Labels are the house planting idiom "
    "(score + doc_id-residue noise >= threshold), so correlation is "
    "real but imperfect. Complements quality_calibration_ece: ECE "
    "audits calibration, this audits discrimination. 100 TB shape: "
    "ONE corpus aggregate to (lang, score-bucket) cells, a "
    "lang-PARTITIONED cumulative window over the bounded score "
    "domain, one final per-lang fold — output is lang-domain rows.",
)
def auc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return auc_quality_classifier_from(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    )


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
# pii_redact_spans
# --------------------------------------------------------------------

# the text_pii_scan dialect-shared patterns (queries/text.py)
_RD_EMAIL = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
_RD_ID = "[0-9]{6,}"
_RD_EMAIL_TOK = "<EMAIL>"
_RD_ID_TOK = "<ID>"
# plants by doc_id residue: an email (whose local part carries digits
# — the ordering witness: redacting digit runs first would shred it),
# a 7-digit id, and one doc with both
_RD_MOD = 9


def _rd_plant_sql() -> str:
    return f"""
        text || CASE
          WHEN doc_id % {_RD_MOD} = 0
          THEN ' contact user' || CAST(1000000 + doc_id AS VARCHAR)
               || '@mail.example.com now'
          WHEN doc_id % {_RD_MOD} = 4
          THEN ' ref ' || CAST(2000000 + doc_id AS VARCHAR) || ' code'
          WHEN doc_id % {_RD_MOD} = 7
          THEN ' a' || CAST(3000000 + doc_id AS VARCHAR)
               || '@x.org and ' || CAST(4000000 + doc_id AS VARCHAR)
          ELSE '' END
    """


def _rd_oracle() -> str:
    return f"""
    WITH planted AS (
      SELECT doc_id, {_rd_plant_sql()} AS txt FROM documents
    ),
    step1 AS (
      SELECT doc_id, txt,
             CAST(len(regexp_extract_all(txt, '{_RD_EMAIL}')) AS BIGINT)
               AS n_email,
             regexp_replace(txt, '{_RD_EMAIL}', '{_RD_EMAIL_TOK}', 'g')
               AS t1
      FROM planted
    ),
    step2 AS (
      SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t1, '{_RD_ID}')) AS BIGINT)
               AS n_id,
             regexp_replace(t1, '{_RD_ID}', '{_RD_ID_TOK}', 'g') AS t2
      FROM step1
    )
    SELECT doc_id, n_email, n_id,
           CAST(len(regexp_extract_all(t2, '{_RD_EMAIL}'))
                + len(regexp_extract_all(t2, '{_RD_ID}')) AS BIGINT)
             AS n_residual,
           CAST(len(t2) AS BIGINT) AS out_len,
           md5(t2) AS out_md5
    FROM step2
    ORDER BY doc_id
    """


@register(
    "pii_redact_spans",
    _rd_oracle(),
    doc="PII REDACTION - the mutation twin of text_pii_scan and the "
    "privacy family's release path: every email and long-digit-run "
    "match rewrites to a typed token. Ordering is part of the "
    "contract: emails redact FIRST, because the digit-run rule would "
    "otherwise shred an address's numeric local part before the "
    "address rule fires - a planted email with a 7-digit local part "
    "witnesses exactly that failure mode (digit-first redaction "
    "produces a different md5 and a nonzero email count on the "
    "mangled remainder). The compared bytes carry per-type counts, "
    "an md5 over the redacted text, and a computed residual-match "
    "column that must be ZERO - partial redaction cannot hide. "
    "Patterns are the text_pii_scan dialect-shared subset (anchored "
    "character classes, no lookaround), already hash-proven portable "
    "across both regex engines. 100 TB shape: map-only - two "
    "regexp_replace passes and three count extractions in one "
    "whole-stage-codegen projection, zero joins, zero shuffles.",
)
def pii_redact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_redact_spans_from(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )


def pii_redact_spans_from(docs: DataFrame) -> DataFrame:
    """The full redaction chain over a (doc_id, text) frame — shared
    with tools/stress_check.py's ``pii_redact`` stage so the stress
    row always measures the shipping shape."""
    plant = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % _RD_MOD == 0,
            F.concat(
                F.lit(" contact user"),
                (F.col("doc_id") + 1_000_000).cast("string"),
                F.lit("@mail.example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % _RD_MOD == 4,
            F.concat(
                F.lit(" ref "),
                (F.col("doc_id") + 2_000_000).cast("string"),
                F.lit(" code"),
            ),
        )
        .when(
            F.col("doc_id") % _RD_MOD == 7,
            F.concat(
                F.lit(" a"),
                (F.col("doc_id") + 3_000_000).cast("string"),
                F.lit("@x.org and "),
                (F.col("doc_id") + 4_000_000).cast("string"),
            ),
        )
        .otherwise(F.lit("")),
    )
    planted = docs.select("doc_id", plant.alias("txt"))
    n_email = F.size(
        F.regexp_extract_all("txt", F.lit(_RD_EMAIL), F.lit(0))
    ).cast("long")
    t1 = F.regexp_replace("txt", _RD_EMAIL, _RD_EMAIL_TOK)
    s1 = planted.select(
        "doc_id", n_email.alias("n_email"), t1.alias("t1")
    )
    n_id = F.size(
        F.regexp_extract_all("t1", F.lit(_RD_ID), F.lit(0))
    ).cast("long")
    t2 = F.regexp_replace("t1", _RD_ID, _RD_ID_TOK)
    s2 = s1.select("doc_id", "n_email", n_id.alias("n_id"), t2.alias("t2"))
    resid = (
        F.size(F.regexp_extract_all("t2", F.lit(_RD_EMAIL), F.lit(0)))
        + F.size(F.regexp_extract_all("t2", F.lit(_RD_ID), F.lit(0)))
    ).cast("long")
    return s2.select(
        "doc_id",
        "n_email",
        "n_id",
        resid.alias("n_residual"),
        F.length("t2").cast("long").alias("out_len"),
        F.md5(F.col("t2").cast("binary")).alias("out_md5"),
    ).orderBy("doc_id")
