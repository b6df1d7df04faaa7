"""The r21 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r21_staging.py keeps the semantic pins.

The three close distinct holes:

- ``decayed_event_frequency`` — trending detection with EXACT
  exponential time decay: per-type decayed counts Σ 2^(-age_days),
  computed entirely in integers by the common-denominator trick
  (Σ 2^(cap - min(age, cap)) over 2^cap, ages capped at 30 days —
  beyond the cap a contribution is < 1e-9 of a fresh event and the
  cap is what makes the numerator BIGINT-exact). The day bucket is
  epoch_us div 86400000000 (integer truncation on both engines) — a pure integer, so no compared byte depends
  on session timezone (the round-1 lesson); the reference day is the
  corpus max, derived engine-side (1-row aggregate cross join, no
  driver collect).
- ``json_schema_infer`` — semi-structured schema profiling: per JSON
  path, the observed value-class distribution (missing / int / float
  / bool / string) with presence ratios — the first thing a data
  lake runs against a new feed, and the complement of the registered
  extractors (json_path_extract / variant_path_extract assume the
  schema; this DISCOVERS it). Classification is value-pattern-based
  on the canonical string extraction (get_json_object twins DuckDB's
  json_extract_string byte-for-byte — verified on every planted
  shape), deterministic across engines; production swaps in variant
  typeof for quoted-number fidelity, same plan.
- ``categorical_dictionary_encode`` — the dictionary/label-encoding
  step every feature and tokenizer pipeline runs: dense integer ids
  over a categorical domain, frequency-ranked (count DESC, value ASC
  — the tokenizer-vocab convention), plus encoded-corpus evidence
  (per-id counts and an md5 over the decoded round-trip concat that
  witnesses bijectivity in the compared bytes). The only sort is
  over the DISTINCT domain — vocabulary-bounded, the registry's
  sanctioned exception to the unpartitioned-window ban.
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


# --------------------------------------------------------------------
# decayed_event_frequency
# --------------------------------------------------------------------

_DF_CAP = 30  # decay cap in days: 2^-30 < 1e-9 of a fresh event
_DF_DAY_US = 86_400_000_000


def _decay_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_DF_DAY_US} AS day
      FROM events
    ),
    ref AS (SELECT MAX(day) AS ref_day FROM ev),
    w AS (
      SELECT ev.event_type,
             (1::BIGINT << ({_DF_CAP} - LEAST(ref.ref_day - ev.day,
                                              {_DF_CAP}))) AS num
      FROM ev CROSS JOIN ref
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(num) AS BIGINT) AS decay_num,
           {sql_round_div('SUM(num)', f'(1::BIGINT << {_DF_CAP})')}
             AS decayed_count
    FROM w
    GROUP BY event_type
    ORDER BY event_type
    """


@register(
    "decayed_event_frequency",
    _decay_oracle(),
    doc="trending detection with EXACT exponential time decay: "
    "per-type decayed counts sum(2^-age_days) computed entirely in "
    "integers — each event contributes 2^(cap - min(age, cap)) to a "
    "BIGINT numerator over the common denominator 2^cap (cap=30 "
    "days; an older event's true weight is < 1e-9 of a fresh one, "
    "and the cap is what keeps the numerator exact instead of "
    "floating). ONE rounding at the very end through the shared "
    "decimal route, so engines cannot diverge on any tie. Day = "
    "epoch_us div 86400000000 (integer truncation on both engines), a pure integer — no compared byte depends "
    "on session timezone (the round-1 sessionization lesson); the "
    "reference day is the corpus max, derived ENGINE-side as a 1-row "
    "aggregate cross join (no driver collect). 100 TB shape: one "
    "map-only weight projection + one hash aggregate with map-side "
    "combine; the decayed counter is the streaming-friendly "
    "alternative to windowed re-counts (state is one integer per "
    "key, merge = shift-and-add).",
)
def decayed_event_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        # integer `div`, not double-divide-then-cast: Spark div and
        # DuckDB's integer // both truncate toward zero, so the bucket
        # is identical for ALL inputs incl. pre-1970 timestamps, and no
        # compared byte rides double rounding (ADVICE r11)
        F.expr(f"unix_micros(ts) div {_DF_DAY_US}").alias("day"),
    )
    ref = ev.agg(F.max("day").alias("ref_day"))
    w = ev.crossJoin(F.broadcast(ref)).select(
        "event_type",
        F.expr(
            f"shiftleft(1L, cast({_DF_CAP} - least(ref_day - day, "
            f"{_DF_CAP}) as int))"
        ).alias("num"),
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("num").cast("long").alias("decay_num"),
        )
        .select(
            "event_type",
            "n_events",
            "decay_num",
            round_div(
                F.col("decay_num"), F.lit(1 << _DF_CAP)
            ).alias("decayed_count"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# json_schema_infer
# --------------------------------------------------------------------

# planted JSON shapes by event_id % 6 (the house idiom) — the fixture
# props column is uniformly {"k": <int>}, too regular to witness
# inference
_JS_PATHS = ["$.k", "$.extra.v"]
_JS_INT_RE = "^-?[0-9]+$"
_JS_FLOAT_RE = "^-?[0-9]+[.][0-9]+$"


def _js_doc_sql() -> str:
    v = "CAST(event_id % 100 AS VARCHAR)"
    return f"""
        CASE event_id % 6
          WHEN 0 THEN '{{"k": ' || {v} || '}}'
          WHEN 1 THEN '{{"k": "s' || {v} || '"}}'
          WHEN 2 THEN '{{"k": ' || {v} || '.5}}'
          WHEN 3 THEN '{{"k": ' || (CASE WHEN event_id % 2 = 0
                                    THEN 'true' ELSE 'false' END) || '}}'
          WHEN 4 THEN '{{"k": ' || {v} || ', "extra": {{"v": '
                   || {v} || '}}}}'
          ELSE '{{}}'
        END
    """


def _js_oracle() -> str:
    path_union = " UNION ALL ".join(
        f"SELECT '{p}' AS path" for p in _JS_PATHS
    )
    return f"""
    WITH raw AS (
      SELECT event_id, {_js_doc_sql()} AS j FROM events
    ),
    paths AS ({path_union}),
    ext AS (
      SELECT p.path, json_extract_string(r.j, p.path) AS v
      FROM raw r CROSS JOIN paths p
    ),
    cls AS (
      SELECT path,
             CASE WHEN v IS NULL THEN 'missing'
                  WHEN v IN ('true', 'false') THEN 'bool'
                  WHEN regexp_matches(v, '{_JS_INT_RE}') THEN 'int'
                  WHEN regexp_matches(v, '{_JS_FLOAT_RE}') THEN 'float'
                  ELSE 'string' END AS type_class
      FROM ext
    ),
    tot AS (SELECT path, COUNT(*) AS n FROM cls GROUP BY path)
    SELECT c.path, c.type_class,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           {sql_round_div('COUNT(*)', 't.n')} AS fraction
    FROM cls c JOIN tot t USING (path)
    GROUP BY c.path, c.type_class, t.n
    ORDER BY c.path, c.type_class
    """


@register(
    "json_schema_infer",
    _js_oracle(),
    doc="semi-structured schema inference: per JSON path, the observed "
    "value-class distribution (missing / int / float / bool / "
    "string) with presence fractions — the first profile a data lake "
    "runs on a new feed, and the DISCOVERY complement of the "
    "registered extractors (json_path_extract / variant_path_extract "
    "consume a known schema). Six planted JSON shapes by event_id "
    "residue (int / quoted-string / float / bool / nested-object / "
    "empty) exercise every class including the missing-path case on "
    "both a top-level and a nested path. Classification is value-"
    "pattern-based on the canonical string extraction — Spark "
    "get_json_object and DuckDB json_extract_string return byte-"
    "identical strings on every shape (verified), so the CASE chain "
    "cannot diverge; the quoted-number ambiguity ('5' vs 5) is "
    "inherent to string extraction and documented — production swaps "
    "in variant typeof, same plan shape. 100 TB shape: map-only "
    "extraction per (row x path, path list is a tiny literal) + one "
    "hash aggregate bounded by paths x classes; the profile is "
    "persistable per feed snapshot.",
)
def json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    ev = fan_out(t(spark, sf_dir, "events").select("event_id"))
    v = (F.col("event_id") % 100).cast("string")
    m = F.col("event_id") % 6
    j = (
        F.when(m == 0, F.concat(F.lit('{"k": '), v, F.lit("}")))
        .when(m == 1, F.concat(F.lit('{"k": "s'), v, F.lit('"}')))
        .when(m == 2, F.concat(F.lit('{"k": '), v, F.lit(".5}")))
        .when(
            m == 3,
            F.concat(
                F.lit('{"k": '),
                F.when(F.col("event_id") % 2 == 0, "true").otherwise(
                    "false"
                ),
                F.lit("}"),
            ),
        )
        .when(
            m == 4,
            F.concat(
                F.lit('{"k": '),
                v,
                F.lit(', "extra": {"v": '),
                v,
                F.lit("}}"),
            ),
        )
        .otherwise(F.lit("{}"))
    )
    raw = ev.select("event_id", j.alias("j"))
    ext = raw.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("path"),
                        F.get_json_object("j", p).alias("v"),
                    )
                    for p in _JS_PATHS
                ]
            )
        ).alias("e")
    ).select("e.path", "e.v")
    cls = ext.select(
        "path",
        F.when(F.col("v").isNull(), "missing")
        .when(F.col("v").isin("true", "false"), "bool")
        .when(F.col("v").rlike(_JS_INT_RE), "int")
        .when(F.col("v").rlike(_JS_FLOAT_RE), "float")
        .otherwise("string")
        .alias("type_class"),
    )
    tot = cls.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    return (
        cls.groupBy("path", "type_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_values"))
        .join(F.broadcast(tot), "path")
        .select(
            "path",
            "type_class",
            "n_values",
            round_div(F.col("n_values"), F.col("n")).alias("fraction"),
        )
        .orderBy("path", "type_class")
    )


# --------------------------------------------------------------------
# categorical_dictionary_encode
# --------------------------------------------------------------------


def _dict_oracle() -> str:
    return """
    WITH cat AS (
      SELECT doc_id, source || '|' || lang AS category FROM documents
    ),
    vocab AS (
      SELECT category, COUNT(*) AS n,
             CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, category)
                  AS INTEGER) - 1 AS cat_id
      FROM cat GROUP BY category
    ),
    enc AS (
      SELECT c.doc_id, v.cat_id, v.category
      FROM cat c JOIN vocab v USING (category)
    )
    SELECT v.cat_id, v.category,
           CAST(v.n AS BIGINT) AS n_docs,
           md5(string_agg(e.category, ',' ORDER BY e.doc_id))
             AS decode_roundtrip_md5
    FROM vocab v JOIN enc e ON e.cat_id = v.cat_id
    GROUP BY v.cat_id, v.category, v.n
    ORDER BY v.cat_id
    """


@register(
    "categorical_dictionary_encode",
    _dict_oracle(),
    doc="dictionary / label encoding — the step every feature pipeline "
    "and tokenizer-vocab build runs: dense integer ids over a "
    "categorical domain (source x lang composite), FREQUENCY-ranked "
    "(count DESC, value ASC — the tokenizer-vocab convention: hot "
    "categories get small ids, which matters for varint/dictionary "
    "compression downstream). The encoded corpus is then DECODED "
    "back through the id and the per-id md5 over the ordered decoded "
    "values witnesses bijectivity in the compared bytes (a collision "
    "or off-by-one in the id assignment scrambles the hash). The "
    "only sort is ROW_NUMBER over the DISTINCT domain — vocabulary-"
    "bounded (the registry's sanctioned exception to the "
    "unpartitioned-window ban; domains are compressible precisely "
    "because they are small). BOUND: the windowed input is "
    "|distinct(source x lang)| rows — the CROSS-CARDINALITY of two "
    "low-cardinality dimension columns (97 rows at sf0.01), NEVER "
    "corpus rows; it scales with the category domain, not the data, "
    "the same key-domain argument as quota_largest_remainder's "
    "'(bounded window)' PLAN_AUDIT row, which this query joins when "
    "registered. 100 TB shape: one distinct+count hash "
    "aggregate, a vocab-sized window, one broadcast join back — the "
    "exact shape of building and applying a tokenizer vocab or "
    "feature map.",
)
def categorical_dictionary_encode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.concat_ws("|", "source", "lang").alias("category")
    )
    vocab = (
        docs.groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "category",
            "n",
            (
                F.row_number().over(
                    # vocabulary-bounded total order (see doc)
                    Window.orderBy(F.desc("n"), F.asc("category"))
                )
                - 1
            )
            .cast("int")
            .alias("cat_id"),
        )
    )
    enc = docs.join(F.broadcast(vocab), "category")
    return (
        enc.groupBy("cat_id", "category")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.md5(
                F.encode(
                    F.array_join(
                        F.array_sort(
                            F.collect_list(
                                F.struct("doc_id", "category")
                            )
                        ).cast(
                            "array<struct<doc_id:bigint,category:string>>"
                        ).getField("category"),
                        ",",
                    ),
                    "utf-8",
                )
            ).alias("decode_roundtrip_md5"),
        )
        .select("cat_id", "category", "n_docs", "decode_roundtrip_md5")
        .orderBy("cat_id")
    )
