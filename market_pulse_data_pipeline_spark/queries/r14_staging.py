"""The r14 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r14_staging.py keeps the semantic pins.

The three close the next tier of LLM-pipeline gaps:

- ``dsir_importance_resample`` — Data Selection via Importance
  Resampling (Xie et al., NeurIPS 2023): score every raw document by
  how target-like its hashed-bigram feature distribution is, then
  Bernoulli-accept proportionally to the (capped) importance ratio.
  Linearized into exact integer micro-arithmetic the way the
  registered ``doremi_excess_loss_reweight`` linearizes exponentiated
  gradients: per-bucket Laplace-smoothed probability RATIOS quantized
  to integer micro via the decimal route (no log, no float boundary),
  a per-doc integer sum, and the registered content-free md5-Bernoulli
  acceptance with an integer cross-multiplied keep rule.
- ``containment_excerpt_dups`` — one-sided set containment
  (Broder 1997, "On the resemblance and containment of documents"):
  |A∩B| / |A| over 5-gram shingle sets, flagging EXCERPTS — a short
  doc fully contained in a long one has containment ~1.0 but Jaccard
  well under every near-dup threshold, so the registered symmetric
  family (minhash/simhash/ngram-jaccard) structurally cannot see it.
  Planted excerpt twins (the first ~40% of every 23rd long doc)
  witness exactly that gap: flagged here, invisible to J >= 0.8.
- ``quality_calibration_ece`` — reliability diagram + per-bin
  calibration gaps for the registered hashed linear quality scorer
  (the standard ECE decomposition, Guo et al. 2017): integer-milli
  confidence quantization, 10 integer bins, per-bin accuracy vs mean
  confidence through the shared decimal-quotient route. Completes
  ``quality_threshold_sweep``'s PR curve with the calibration story a
  production filter stack needs before trusting scores as keep
  probabilities.
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
# dsir_importance_resample
# --------------------------------------------------------------------

_DS_B = 128  # hashed-bigram feature buckets (DSIR uses 10k; B-bounded)
_DS_TARGET_LANG = "en"  # the target distribution: English documents
_DS_CAP_MICRO = 10_000_000  # per-bucket ratio clip at 10.0 (DSIR clips
# importance weights so one rare feature can't dominate a doc score)
_DS_KEEP_DEN = 2_000_000  # keep prob = avg_ratio / 2, clipped at 1:
# u/2^24 < score_micro/(nb*2e6)  <=>  u*nb*2e6 < score_micro*2^24
_DS_U_MAX = 16**6  # 6 hex digits of md5 -> uniform in [0, 2^24)

# portable 60-bit hash twins (the hashed_linear_quality_score idiom)
_H60_SQL = "(('0x' || substring(md5({e}), 1, 15))::BIGINT)"


def _h60(col: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def _dsir_oracle() -> str:
    bucket = _H60_SQL.format(e="bg")
    u = (
        "(('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 6))"
        "::BIGINT)"
    )
    return f"""
    WITH tokd AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    big AS (
      SELECT doc_id, lang,
             ({bucket}) % {_DS_B} AS bucket
      FROM (
        SELECT doc_id, lang,
               UNNEST(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS bg
        FROM tokd
      )
    ),
    bstats AS (
      SELECT bucket,
             COUNT(*) AS cr,
             SUM(CASE WHEN lang = '{_DS_TARGET_LANG}' THEN 1 ELSE 0 END)
               AS ct
      FROM big GROUP BY bucket
    ),
    tot AS (
      SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM bstats
    ),
    ratio AS (
      SELECT b.bucket,
             LEAST(CAST(ROUND(CAST(
               ((b.ct + 1) * (t.tr + {_DS_B})) * 1.0
                 / ((b.cr + 1) * (t.tt + {_DS_B}))
               AS DECIMAL(28,10)) * 1000000, 0) AS BIGINT),
               {_DS_CAP_MICRO}) AS micro
      FROM bstats b, tot t
    ),
    dsc AS (
      SELECT g.doc_id, MIN(g.lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(r.micro) AS BIGINT) AS score_micro
      FROM big g JOIN ratio r USING (bucket)
      GROUP BY g.doc_id
    )
    SELECT doc_id, lang, n_bigrams, score_micro,
           {sql_round_div('score_micro * 1.0', 'n_bigrams * 1000000.0')}
             AS avg_ratio,
           ({u}) * n_bigrams * {_DS_KEEP_DEN}
             < score_micro * {_DS_U_MAX} AS kept
    FROM dsc
    ORDER BY doc_id
    """


@register(
    "dsir_importance_resample",
    _dsir_oracle(),
    doc="DSIR importance resampling (Xie et al., NeurIPS 2023): raw "
    "documents are scored by the likelihood ratio a hashed-bigram "
    "bag-of-features model assigns target-vs-raw, then kept with "
    "probability proportional to the ratio — the principled way to "
    "tilt a 100 TB crawl toward a target domain without training a "
    "classifier. Target = lang='en' docs; features = bigrams hashed "
    "into 128 buckets (portable md5-60); per-bucket Laplace-smoothed "
    "probability RATIO quantized to integer micro through the decimal "
    "half-up route and clipped at 10x (DSIR's weight clip), so no log "
    "and no float boundary exists on either engine; per-doc score = "
    "exact integer sum over its bigram stream; acceptance = the "
    "registered md5-Bernoulli idiom with an integer cross-multiplied "
    "rule (u*nb*2e6 < score*2^24 — keep prob = avg_ratio/2 capped at "
    "1). Deviation from the paper, documented: the per-doc aggregate "
    "is the SUM of per-feature ratios rather than the sum of "
    "log-ratios — the same monotone linearization the registered "
    "doremi_excess_loss_reweight applies to exponentiated gradients, "
    "chosen because ln() is not bit-portable across engines. "
    "100 TB shape: one B-bounded bucket aggregate (map-side combine), "
    "the 128-row ratio table broadcast back onto the bigram stream, "
    "one doc-keyed aggregate, map-only accept — cost linear in corpus "
    "bigrams. The bucket products stay exact doubles below 2^53; past "
    "~10^15 corpus bigrams route the ratio through DECIMAL(38) "
    "products (documented escalation).",
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tokd = (
        fan_out(docs)
        .select("doc_id", "lang", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    bg = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 2),
        lambda i: F.concat_ws(" ", F.col("ws")[i], F.col("ws")[i + 1]),
    )
    big = tokd.select(
        "doc_id",
        "lang",
        F.explode(bg).alias("bg"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(_h60(F.col("bg")), F.lit(_DS_B)).alias("bucket"),
    )
    bstats = big.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(
            F.when(F.col("lang") == _DS_TARGET_LANG, 1).otherwise(0)
        ).alias("ct"),
    )
    tot = bstats.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    # scalar join (the DoReMi idiom): totals are ONE row
    ratio = bstats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.least(
            F.round(
                (
                    ((F.col("ct") + 1) * (F.col("tr") + _DS_B)) * 1.0
                    / ((F.col("cr") + 1) * (F.col("tt") + _DS_B))
                ).cast("decimal(28,10)")
                * 1000000,
                0,
            ).cast("long"),
            F.lit(_DS_CAP_MICRO).cast("long"),
        ).alias("micro"),
    )
    # the ratio table is B-bounded (128 rows): broadcast, never shuffle
    # the bigram stream on bucket
    dsc = (
        big.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("micro").cast("long").alias("score_micro"),
        )
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("dsir:"), F.col("doc_id").cast("string")
                ).cast("binary")
            ),
            1,
            6,
        ),
        16,
        10,
    ).cast("long")
    return dsc.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "score_micro",
        round_div(
            F.col("score_micro") * 1.0, F.col("n_bigrams") * 1000000.0
        ).alias("avg_ratio"),
        (
            u * F.col("n_bigrams") * _DS_KEEP_DEN
            < F.col("score_micro") * _DS_U_MAX
        ).alias("kept"),
    ).orderBy("doc_id")


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
    # dense=True (r17): the md5-per-5-gram projection below is
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
    # repartition("h") BEFORE the distinct (r17): hashpartitioning(h)
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
    # r17 single-exchange candidate generation (VERDICT r16 item 7,
    # guide §2.4): the df-cap window and a per-shingle doc-set
    # aggregate SHARE one hashpartitioning(h) exchange — the window
    # (which streams sorted runs and spills to disk, so a hot shingle
    # can never blow task memory) drops df > _CE_MAX_DF shingles
    # BEFORE collect_set buffers anything, bounding every per-group
    # set at _CE_MAX_DF doc ids by construction. That replaces the
    # r14 self-join of keptsh with itself (two more shuffles of the
    # shingle table plus the join) with a map-side C(k,2) pair
    # expression over the bounded sets, k <= _CE_MAX_DF — the naive
    # unbounded-collect_set form r16 measured and rejected is NOT
    # this: here the spill-safe window short-circuits hot shingles
    # first. Pair multiset identical to the self-join (sh is distinct,
    # sort_array ascending == the a.doc_id < b.doc_id condition;
    # pinned in tests/test_r14_staging.py). grp materializes ONCE for
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
