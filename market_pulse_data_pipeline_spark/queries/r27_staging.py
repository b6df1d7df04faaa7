"""Round-27-batch queries: group k-fold leakage audit, PII span
redaction, and the Zipf token-frequency profile.

Each one is registered with a DuckDB value-hash oracle, checked by
tests/test_queries_oracle.py; tests/test_r27_staging.py keeps the
semantic replays.

The three open capability families no other registered query touches:

- ``group_kfold_leakage_audit`` — train/validation SPLIT HYGIENE:
  random per-document fold assignment leaks — a near-duplicate pair
  split across folds trains on the validation answer — and the fix
  every ML pipeline uses is GROUP k-fold (all documents of a group
  share a fold; Scikit-learn's GroupKFold). This audits BOTH
  strategies on the same corpus: per-document md5 folding vs
  per-source group folding, with planted duplicate twins
  (same-source twins, which group-folding provably never splits, and
  cross-source twins, the honest residual group-folding cannot fix).
  Per (strategy, fold): document counts; per strategy: total dup
  pairs, cross-fold (leaked) pairs, leak ratio — all in the compared
  bytes, so the hash pins the assignment rule AND the leakage
  algebra. Composes the dedup family (pair discovery) with the split
  step that consumes it.
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
- ``zipf_token_frequency_profile`` — corpus-shape diagnostics: the
  token frequency spectrum per language — type counts per log2
  frequency bucket (the portable integer form of the Zipf
  rank-frequency plot: bucket = len(bin(freq)) - 1, exact in both
  engines), plus vocabulary size, total tokens, hapax/dis legomena
  counts and the type-token ratio. Templated or machine-generated
  corpora show anomalous spectra (missing hapax mass, truncated
  tails) — this is the health check corpus curation runs before
  trusting language-level mixtures. Aggregate-only: no window
  anywhere.
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
# group_kfold_leakage_audit
# --------------------------------------------------------------------

_KF_K = 5  # folds
_KF_SAME_MOD = 17  # same-source twin plants
_KF_CROSS_MOD = 23  # cross-source twin plants (the residual leak)
_KF_TWIN_OFFSET = 4_000_000_000


def _kf_fold_sql(expr: str) -> str:
    return (
        f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT % {_KF_K})"
    )


def _kf_oracle() -> str:
    fold_doc = _kf_fold_sql("CAST(doc_id AS VARCHAR) || ':fold'")
    fold_grp = _kf_fold_sql("source || ':fold'")
    return f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + {_KF_TWIN_OFFSET}, source, text
      FROM documents WHERE doc_id % {_KF_SAME_MOD} = 0
      UNION ALL
      SELECT doc_id + {_KF_TWIN_OFFSET},
             'src_' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR), text
      FROM documents
      WHERE doc_id % {_KF_CROSS_MOD} = 0
        AND doc_id % {_KF_SAME_MOD} <> 0
    ),
    folded AS (
      SELECT doc_id, source, md5(text) AS digest,
             {fold_doc} AS f_doc, {fold_grp} AS f_grp
      FROM corpus
    ),
    assign AS (
      SELECT 'by_doc' AS strategy, doc_id, digest, f_doc AS fold
      FROM folded
      UNION ALL
      SELECT 'by_group', doc_id, digest, f_grp FROM folded
    ),
    pairs AS (
      SELECT a.strategy,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN a.fold <> b.fold THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_leaked
      FROM assign a
      JOIN assign b
        ON b.strategy = a.strategy AND b.digest = a.digest
       AND a.doc_id < b.doc_id
      GROUP BY 1
    ),
    per_fold AS (
      SELECT strategy, fold, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM assign GROUP BY 1, 2
    )
    SELECT f.strategy, f.fold, f.n_docs, p.n_pairs, p.n_leaked,
           {sql_round_div('p.n_leaked * 1.0', 'p.n_pairs')} AS leak_ratio
    FROM per_fold f JOIN pairs p USING (strategy)
    ORDER BY strategy, fold
    """


@register(
    "group_kfold_leakage_audit",
    _kf_oracle(),
    doc="train/validation split hygiene — the GroupKFold audit: "
    "per-document md5 fold assignment splits near-duplicate pairs "
    "across folds (training on the validation answer), per-source "
    "GROUP folding provably keeps same-source duplicates together; "
    "this runs BOTH strategies over the same corpus and reports per "
    "(strategy, fold) document counts plus per-strategy duplicate "
    "pairs / cross-fold leaked pairs / leak ratio in the compared "
    "bytes. Planted twins make the contrast non-vacuous at every SF: "
    "same-source twins (group folding leaks ZERO of them - the pin) "
    "and cross-source twins (the honest residual no grouping can "
    "fix). Duplicate pairs come from a digest equi-join (the "
    "dedup_exact discipline - hash-keyed, never all-pairs; pair "
    "volume is bounded by true duplication). 100 TB shape: map-only "
    "fold assignment (one md5 per doc per strategy), one "
    "digest-keyed self-join on real duplicates only, two bounded "
    "aggregates (folds x strategies, strategies); the audit costs "
    "one dedup pass - run it before every training split.",
)
def group_kfold_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return group_kfold_leakage_audit_from(
        t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )


def group_kfold_leakage_audit_from(docs: DataFrame) -> DataFrame:
    """The full audit over a (doc_id, source, text) frame — shared
    with tools/stress_check.py's ``kfold_audit`` stage so the stress
    row always measures the shipping shape."""
    same_twins = docs.filter(F.col("doc_id") % _KF_SAME_MOD == 0).select(
        (F.col("doc_id") + _KF_TWIN_OFFSET).alias("doc_id"),
        "source",
        "text",
    )
    cross_twins = (
        docs.filter(
            (F.col("doc_id") % _KF_CROSS_MOD == 0)
            & (F.col("doc_id") % _KF_SAME_MOD != 0)
        ).select(
            (F.col("doc_id") + _KF_TWIN_OFFSET).alias("doc_id"),
            F.concat(
                F.lit("src_"),
                ((F.col("doc_id") * 7 + 3) % 20).cast("string"),
            ).alias("source"),
            "text",
        )
    )
    corpus = docs.unionByName(same_twins).unionByName(cross_twins)

    def h5(col):
        return portable_hash60(col) % _KF_K

    folded = corpus.select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        h5(F.concat(F.col("doc_id").cast("string"), F.lit(":fold"))).alias(
            "f_doc"
        ),
        h5(F.concat(F.col("source"), F.lit(":fold"))).alias("f_grp"),
    )
    # materialize-once discipline: folded (one md5 digest + two fold
    # hashes per corpus row) feeds both sides of the duplicate-pair
    # self-join AND two per-fold aggregates — without this the corpus
    # union and digest hashing recompute per consumer.
    folded = folded.localCheckpoint(eager=True)
    # ONE digest self-join serves BOTH strategies: the duplicate-pair
    # set is strategy-independent (only the fold columns differ), so
    # joining per strategy would double the join volume for identical
    # pairs (round-14 self-review finding).
    b = folded.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("digest").alias("digest_b"),
        F.col("f_doc").alias("f_doc_b"),
        F.col("f_grp").alias("f_grp_b"),
    )
    pair_counts = (
        folded.join(
            b,
            (F.col("digest_b") == F.col("digest"))
            & (F.col("doc_id") < F.col("doc_id_b")),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("f_doc") != F.col("f_doc_b")).cast("int"))
            .cast("long")
            .alias("leak_doc"),
            F.sum((F.col("f_grp") != F.col("f_grp_b")).cast("int"))
            .cast("long")
            .alias("leak_grp"),
        )
    )
    pairs = pair_counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("by_doc").alias("strategy"),
                    F.col("n_pairs"),
                    F.col("leak_doc").alias("n_leaked"),
                ),
                F.struct(
                    F.lit("by_group").alias("strategy"),
                    F.col("n_pairs"),
                    F.col("leak_grp").alias("n_leaked"),
                ),
            )
        ).alias("s")
    ).select("s.strategy", "s.n_pairs", "s.n_leaked")
    per_fold = (
        folded.select(
            F.lit("by_doc").alias("strategy"),
            F.col("f_doc").alias("fold"),
        )
        .unionByName(
            folded.select(
                F.lit("by_group").alias("strategy"),
                F.col("f_grp").alias("fold"),
            )
        )
        .groupBy("strategy", "fold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return (
        per_fold.join(F.broadcast(pairs), "strategy")
        .select(
            "strategy",
            "fold",
            "n_docs",
            "n_pairs",
            "n_leaked",
            round_div(F.col("n_leaked") * 1.0, F.col("n_pairs")).alias(
                "leak_ratio"
            ),
        )
        .orderBy("strategy", "fold")
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


# --------------------------------------------------------------------
# zipf_token_frequency_profile
# --------------------------------------------------------------------


def _zp_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM toks GROUP BY 1, 2
    ),
    bucketed AS (
      SELECT lang, CAST(length(bin(freq)) - 1 AS BIGINT) AS log2_bucket,
             freq
      FROM tf
    ),
    spectrum AS (
      SELECT lang, log2_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(freq) AS BIGINT) AS n_tokens,
             CAST(MIN(freq) AS BIGINT) AS min_freq,
             CAST(MAX(freq) AS BIGINT) AS max_freq
      FROM bucketed GROUP BY 1, 2
    ),
    totals AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(freq) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax_types,
             CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis_types,
             {sql_round_div("COUNT(*) * 1.0", "SUM(freq)", 6)}
               AS type_token_ratio
      FROM tf GROUP BY 1
    )
    SELECT s.lang, s.log2_bucket, s.n_types, s.n_tokens, s.min_freq,
           s.max_freq, t.vocab_size, t.total_tokens, t.hapax_types,
           t.dis_types, t.type_token_ratio
    FROM spectrum s JOIN totals t USING (lang)
    ORDER BY lang, log2_bucket
    """


@register(
    "zipf_token_frequency_profile",
    _zp_oracle(),
    doc="corpus-shape diagnostics: the token frequency SPECTRUM per "
    "language - type counts per log2 frequency bucket, the portable "
    "integer form of the Zipf rank-frequency plot (bucket = "
    "len(bin(freq)) - 1, exact on both engines; no float log "
    "anywhere) - plus vocabulary size, total tokens, hapax and dis "
    "legomena counts and the type-token ratio through one decimal "
    "rounding. Templated or machine-generated text shows anomalous "
    "spectra (missing hapax mass, truncated tails, spiky buckets), "
    "so this is the health check corpus curation runs before "
    "trusting per-language mixture weights; it also exposes the "
    "synthetic fixture's own near-uniform vocabulary honestly in the "
    "compared bytes. Aggregate-only: one token explode, one (lang, "
    "token) hash aggregate with map-side combine, one bounded "
    "spectrum aggregate and one per-lang totals aggregate broadcast "
    "back - no window anywhere, output bounded by langs x ~60 "
    "buckets. 100 TB shape: the (lang, token) aggregate is the only "
    "data-sized shuffle, vocabulary-keyed and AQE-skew-safe.",
)
def zipf_token_frequency_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return zipf_token_frequency_profile_from(
        t(spark, sf_dir, "documents").select("lang", "text")
    )


def zipf_token_frequency_profile_from(docs: DataFrame) -> DataFrame:
    """The full spectrum over a (lang, text) frame — shared with
    tools/stress_check.py's ``zipf_profile`` stage so the stress row
    always measures the shipping shape."""
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    bucketed = tf.select(
        "lang",
        (F.length(F.expr("bin(freq)")) - 1).cast("long").alias(
            "log2_bucket"
        ),
        "freq",
    )
    spectrum = bucketed.groupBy("lang", "log2_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("freq").cast("long").alias("n_tokens"),
        F.min("freq").cast("long").alias("min_freq"),
        F.max("freq").cast("long").alias("max_freq"),
    )
    totals = tf.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("freq").cast("long").alias("total_tokens"),
        F.sum((F.col("freq") == 1).cast("int"))
        .cast("long")
        .alias("hapax_types"),
        F.sum((F.col("freq") == 2).cast("int"))
        .cast("long")
        .alias("dis_types"),
        round_div(
            F.count(F.lit(1)) * 1.0, F.sum("freq"), 6
        ).alias("type_token_ratio"),
    )
    return (
        spectrum.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "log2_bucket",
            "n_types",
            "n_tokens",
            "min_freq",
            "max_freq",
            "vocab_size",
            "total_tokens",
            "hapax_types",
            "dis_types",
            "type_token_ratio",
        )
        .orderBy("lang", "log2_bucket")
    )
