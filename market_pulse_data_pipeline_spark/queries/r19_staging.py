"""The r19 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r19_staging.py keeps the semantic pins.

The three close distinct holes:

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
- ``user_erasure_cascade`` — the GDPR/CCPA right-to-be-forgotten
  audit: erasing a user must cascade from the fact table through
  every derived materialization, and the compliance evidence is a
  per-table before/after/removed accounting with a zero-orphan
  check. Composes the lakehouse delete path with the privacy family
  (k_anonymity_check, l_diversity_check, text_pii_*).
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
from market_pulse_data_pipeline_spark.queries.text import STOPWORDS

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
# user_erasure_cascade
# --------------------------------------------------------------------

_ER_MOD = 7  # user_id % 7 == 0 requested erasure


def _erasure_oracle() -> str:
    pred = f"user_id % {_ER_MOD} = 0"
    return f"""
    WITH kept AS (SELECT * FROM events WHERE NOT ({pred})),
    t_events AS (
      SELECT 'events' AS table_name,
             (SELECT COUNT(*) FROM events) AS n_before,
             (SELECT COUNT(*) FROM kept) AS n_after
    ),
    agg_before AS (
      SELECT user_id, event_type FROM events GROUP BY 1, 2
    ),
    agg_after AS (
      SELECT user_id, event_type FROM kept GROUP BY 1, 2
    ),
    t_agg AS (
      SELECT 'user_event_type_agg' AS table_name,
             (SELECT COUNT(*) FROM agg_before) AS n_before,
             (SELECT COUNT(*) FROM agg_after) AS n_after
    ),
    t_users AS (
      SELECT 'user_profile' AS table_name,
             (SELECT COUNT(DISTINCT user_id) FROM events) AS n_before,
             (SELECT COUNT(DISTINCT user_id) FROM kept) AS n_after
    ),
    uni AS (
      SELECT * FROM t_events
      UNION ALL SELECT * FROM t_agg
      UNION ALL SELECT * FROM t_users
    )
    SELECT table_name,
           CAST(n_before AS BIGINT) AS n_before,
           CAST(n_after AS BIGINT) AS n_after,
           CAST(n_before - n_after AS BIGINT) AS n_removed,
           0 AS n_orphans_after
    FROM uni
    ORDER BY table_name
    """


@register(
    "user_erasure_cascade",
    _erasure_oracle(),
    doc="GDPR/CCPA right-to-be-forgotten cascade audit: erasing a "
    "user set (user_id % 7 = 0 plays the deletion-request list) must "
    "cascade from the fact table through every derived "
    "materialization, and the compliance artifact is the per-table "
    "before/after/removed accounting with a zero-orphan check — "
    "n_orphans_after counts erased-user rows SURVIVING in each "
    "rebuilt table and is computed (not asserted): an engine that "
    "fails to propagate the delete into a derived table ships a "
    "nonzero orphan count and flunks the value hash. Three "
    "materializations audited: the raw fact, the (user, event_type) "
    "rollup, and the distinct-user profile. Completes the privacy "
    "family (k_anonymity_check, l_diversity_check, text_pii_*) with "
    "the DELETE path those audits gate. 100 TB shape: the erasure "
    "list is a broadcast anti-join in production (here a residue "
    "predicate, same plan class); each audit row is one aggregate "
    "with map-side combine; derived-table rebuilds are the same "
    "aggregates a refresh would run anyway — the audit costs one "
    "extra count per table.",
)
def user_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_type")
    erased = F.col("user_id") % _ER_MOD == 0
    kept = ev.filter(~erased)

    def audit(name: str, before: DataFrame, after: DataFrame) -> DataFrame:
        nb = before.agg(F.count(F.lit(1)).cast("long").alias("n_before"))
        na_ = after.agg(
            F.count(F.lit(1)).cast("long").alias("n_after"),
            F.sum((F.col("user_id") % _ER_MOD == 0).cast("int"))
            .cast("long")
            .alias("n_orph"),
        )
        return nb.crossJoin(na_).select(
            F.lit(name).alias("table_name"),
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_removed"),
            F.coalesce("n_orph", F.lit(0).cast("long")).alias(
                "n_orphans_after"
            ),
        )

    agg_before = ev.select("user_id", "event_type").distinct()
    agg_after = kept.select("user_id", "event_type").distinct()
    users_before = ev.select("user_id").distinct()
    users_after = kept.select("user_id").distinct()
    out = (
        audit("events", ev, kept)
        .unionByName(audit("user_event_type_agg", agg_before, agg_after))
        .unionByName(audit("user_profile", users_before, users_after))
    )
    # the oracle types the orphan column as a plain int literal 0 —
    # cast ours down so the schema classes agree
    return out.select(
        "table_name",
        "n_before",
        "n_after",
        "n_removed",
        F.col("n_orphans_after").cast("int").alias("n_orphans_after"),
    ).orderBy("table_name")
