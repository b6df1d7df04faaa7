"""The r10 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r10_staging.py keeps the semantic pins.

All three are compositions of driver-green machinery into the
pipeline ACTIONS the registry still lacked (VERDICT r8 item 6's
"what's missing is the cut, not the diagnosis" theme):

- ``exact_substring_trim`` — the CUT step of exact-substring dedup
  (Lee et al. 2022, "Deduplicating Training Data Makes Language
  Models Better"): where the registered ``exact_substring_spans``
  only REPORTS cross-document duplicated token ranges, this removes
  them — every 16-token window appearing verbatim in ≥ 2 documents is
  cut from every document EXCEPT the first occurrence (min doc_id
  owner), and each document is reassembled from its surviving tokens.
- ``perplexity_stratified_sample`` — the sampling step CCNet actually
  executes after bucketing: compose the registered
  ``ccnet_perplexity_buckets`` terciles with the registered
  content-free md5 Bernoulli idiom (bernoulli_sample_hash) into
  per-bucket keep rates (head 100%, middle 50%, tail ~10%) — the
  standard keep-the-fluent-half recipe, deterministic and
  repartition-stable, no RNG state.
- ``domain_dedup_quality_gate`` — the domain-level drop decision
  (the C4/RefinedWeb "kill the spam farm, not the document" action):
  per source domain, exact-duplicate rate (content digests) and mean
  document length gate the WHOLE domain; planted witnesses are a
  'spamfarm' domain of verbatim copies (dies on dup rate) and a
  'stubfarm' domain of 5-token stubs (dies on quality).
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
    bench=True,  # corpus-scale digest-keyed cut shape: first-round number
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
    # 1-3 partitions — the round-10 single-split finding. No-op on a
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
    # Ownership as ONE digest-partitioned window (r17): the r16 form
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
    # reassembly as ONE doc-keyed pass (r16): the former shape exploded
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
# perplexity_stratified_sample
# --------------------------------------------------------------------

# per-bucket keep rates via the registered content-free md5 Bernoulli
# idiom (two-hex-digit buckets, 256 cells): head keeps everything,
# middle keeps <= '7f' (128/256 = 50%), tail keeps <= '19'
# (26/256 ~ 10.2%)
_PS_MIDDLE_HEX = "7f"
_PS_TAIL_HEX = "19"


def _stratified_oracle() -> str:
    from market_pulse_data_pipeline_spark.queries.r8_staging import (  # noqa: PLC0415
        _CCNET_SCORE_SQL,
    )

    return (
        _CCNET_SCORE_SQL
        + f"""
    SELECT doc_id, lang, bucket,
           CASE bucket
             WHEN 'head' THEN TRUE
             WHEN 'middle' THEN
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_PS_MIDDLE_HEX}'
             ELSE
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{_PS_TAIL_HEX}'
           END AS sampled
    FROM (
      SELECT lang, doc_id,
             CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS bucket
      FROM (
        SELECT lang, doc_id,
               NTILE(3) OVER (PARTITION BY lang
                              ORDER BY mean_inv_p, doc_id) AS tile
        FROM scored
      )
    )
    ORDER BY doc_id
    """
    )


@register(
    "perplexity_stratified_sample",
    _stratified_oracle(),
    doc="perplexity-stratified sampling — the sampling step CCNet "
    "actually EXECUTES after bucketing (Wenzek et al. keep head+"
    "middle; production mixes keep graded fractions): compose the "
    "registered ccnet_perplexity_buckets terciles with the registered "
    "content-free md5 Bernoulli idiom into per-bucket keep rates "
    "(head 100%, middle 50%, tail ~10.2%). Deterministic, seedless, "
    "repartition-stable, and NESTED — lowering a rate keeps a subset "
    "of the old sample, so mix ablations are monotone. Emits every "
    "doc with its bucket and sampled flag. 100 TB shape: the bucket "
    "stage is the driver-green fluency aggregate + one per-lang "
    "window; the sample gate is a pure map-side filter expression — "
    "no new shuffle at all.",
)
def perplexity_stratified_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.queries.r8_staging import (  # noqa: PLC0415
        ccnet_perplexity_buckets,
    )

    buck = ccnet_perplexity_buckets(spark, sf_dir)
    hexb = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    sampled = (
        F.when(F.col("bucket") == "head", F.lit(True))
        .when(F.col("bucket") == "middle", hexb <= _PS_MIDDLE_HEX)
        .otherwise(hexb <= _PS_TAIL_HEX)
    )
    return buck.select(
        "doc_id", "lang", "bucket", sampled.alias("sampled")
    ).orderBy("doc_id")


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
