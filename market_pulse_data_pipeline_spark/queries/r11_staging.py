"""The r11 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r11_staging.py keeps the semantic pins.

The three close the next tier of LLM-pipeline gaps:

- ``paragraph_simhash_near_dups`` — fuzzy boilerplate detection at
  PARAGRAPH granularity: where ``sentence_dedup_profile`` and
  ``boilerplate_sentence_removal`` match pseudo-sentences EXACTLY
  (byte-equal digests), this SimHashes every 30-token
  pseudo-paragraph and pairs paragraphs within Hamming ≤ 3 — catching
  the near-identical site furniture (dates, counters, one-token
  edits) exact digests miss. Same portable-bit machinery and
  pigeonhole chunk join as the registered doc-level
  ``simhash_portable`` (Manku et al., WWW 2007).
- ``doremi_excess_loss_reweight`` — DoReMi-style domain reweighting
  (Xie et al. 2023): up-weight domains whose proxy loss exceeds the
  corpus reference, one exponentiated-gradient step linearized into
  exact integer milli-arithmetic. The registry's model-free bigram
  fluency plays the proxy loss (the real algorithm plugs in a small
  trained model's per-domain excess loss — the SOLVER shape is what
  this operator contributes).
- ``curriculum_pack_easy_first`` — curriculum-ordered sequence
  packing: ``token_budget_packing``'s running-sum pack assignment,
  but ordered easy → hard per language (integer milli avg-token-
  length as the difficulty proxy) so early packs hold the easiest
  documents — the standard length-curriculum recipe, fully
  deterministic (integer sort key + id tiebreak).
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
    bench=True,  # pigeonhole banded-join shape: first-round number
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
    # signature kernel (r16): paragraph splitting, the per-token
    # portable 60-bit md5 hash, and all 60 per-bit votes run in ONE
    # Arrow-batched numpy pass. The former expression pipeline — a
    # higher-order ``transform`` computing md5 per token plus SIXTY
    # interpreted ``aggregate`` folds over the hash array per paragraph
    # — was the query's dominant cost (the VERDICT r15 item 5
    # interpreted-lambda class, here at its highest fan-in). Arithmetic
    # is bit-identical: hashlib md5 over the same "pp:"-salted UTF-8
    # token == F.md5(cast binary), first 15 hex digits as int64 ==
    # conv(...,16,10), numpy int64 shift/&1 votes == the JVM fold, tie
    # rule vote > 0 unchanged (pinned against the expression path in
    # tests/test_r11_staging.py::test_ph_signature_kernel_matches_jvm).
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

    # localCheckpoint, not cache (ADVICE r15): both sides of the
    # pigeonhole self-join consume the signature table; checkpointed
    # blocks release when the DataFrame is garbage-collected instead of
    # pinning executor storage for the session lifetime. Lineage
    # tradeoff (ADVICE r16): see the basket_lift_pairs note — an
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
# doremi_excess_loss_reweight
# --------------------------------------------------------------------

_DM_CAP_MILLI = 1000  # multiplier cap: factor in [1.0, 2.0]


def _doremi_oracle() -> str:
    from market_pulse_data_pipeline_spark.queries.r8_staging import (  # noqa: PLC0415
        _CCNET_SCORE_SQL,
    )

    # scored (doc_id, lang, mean_inv_p) comes from the shared CCNet
    # fluency chain; source rides back in via a doc_id join
    return (
        _CCNET_SCORE_SQL
        + f""",
    bysrc AS (
      SELECT d.source,
             COUNT(*) AS n_docs,
             {sql_round_div(
            'CAST(SUM(CAST(s.mean_inv_p AS DECIMAL(20,6))) AS DOUBLE)',
            'COUNT(*)',
        )} AS domain_loss
      FROM scored s JOIN documents d USING (doc_id)
      GROUP BY d.source
    ),
    ref AS (
      SELECT {sql_round_div(
            'CAST(SUM(CAST(mean_inv_p AS DECIMAL(20,6))) AS DOUBLE)',
            'COUNT(*)',
        )} AS corpus_loss
      FROM scored
    ),
    stepped AS (
      SELECT source, n_docs, domain_loss,
             CAST(ROUND((CAST(domain_loss AS DECIMAL(20,6))
                         - CAST(corpus_loss AS DECIMAL(20,6))) * 1000, 0)
                  AS BIGINT) AS excess_milli
      FROM bysrc, ref
    ),
    factored AS (
      SELECT source, n_docs, domain_loss, excess_milli,
             1000 + LEAST({_DM_CAP_MILLI}, GREATEST(0, excess_milli))
               AS factor_milli
      FROM stepped
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, domain_loss,
           excess_milli, CAST(factor_milli AS BIGINT) AS factor_milli,
           {sql_round_div(
            'n_docs * factor_milli * 1.0',
            'SUM(n_docs * factor_milli) OVER ()', 6,
        )} AS weight
    FROM factored
    ORDER BY source
    """
    )


@register(
    "doremi_excess_loss_reweight",
    _doremi_oracle(),
    doc="DoReMi-style domain reweighting (Xie et al. 2023): up-weight "
    "domains whose proxy loss EXCEEDS the corpus reference — the "
    "higher a domain's excess loss, the more the next mix samples it. "
    "One exponentiated-gradient step, linearized and capped into "
    "exact integer milli-arithmetic (factor = 1 + clip(excess, 0, 1), "
    "weights = n_docs x factor normalized through the decimal-"
    "quotient route), so every emitted weight is bit-identical "
    "cross-engine — no exp(), no float boundary. The registry's "
    "model-free bigram fluency plays the proxy loss; the real "
    "algorithm plugs a small trained model's per-domain excess loss "
    "into the same solver shape, and iterates — each iteration is "
    "this ONE bounded aggregate, so T iterations cost T |domains|-"
    "bounded passes, never a corpus rescan. 100 TB shape: the corpus "
    "work is the driver-green fluency chain; everything after is "
    "|domains|-bounded (one hash aggregate + a 1-row reference "
    "broadcast).",
)
def doremi_excess_loss_reweight(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.queries.r8_staging import (  # noqa: PLC0415
        ccnet_perplexity_buckets,
    )

    # reuse the registered bucket op's scored stage by recomputing the
    # fluency signal: ccnet_perplexity_buckets exposes (doc_id, lang,
    # mean_inv_p) among its outputs — the per-doc fluency this solver
    # consumes; source rides back in via a doc_id join
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    # materialize the proxy-loss scores once: the fluency pipeline
    # behind ccnet_perplexity_buckets is the expensive stage and BOTH
    # aggregates below (per-domain and corpus reference) consume it —
    # the lazy form re-ran the whole scoring pipeline for each
    # (14 document scans in the audited plan before round 12)
    scored = ccnet_perplexity_buckets(spark, sf_dir).select(
        "doc_id", "mean_inv_p"
    ).localCheckpoint()
    dec = F.col("mean_inv_p").cast("decimal(20,6)")
    bysrc = (
        scored.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_div(
                F.sum(dec).cast("double"), F.count(F.lit(1))
            ).alias("domain_loss"),
        )
    )
    ref = scored.agg(
        round_div(F.sum(dec).cast("double"), F.count(F.lit(1))).alias(
            "corpus_loss"
        )
    )
    excess = F.round(
        (
            F.col("domain_loss").cast("decimal(20,6)")
            - F.col("corpus_loss").cast("decimal(20,6)")
        )
        * 1000,
        0,
    ).cast("long")
    stepped = bysrc.crossJoin(F.broadcast(ref)).select(
        "source",
        "n_docs",
        "domain_loss",
        excess.alias("excess_milli"),
    )
    factor = F.lit(1000) + F.least(
        F.lit(_DM_CAP_MILLI), F.greatest(F.lit(0), F.col("excess_milli"))
    )
    factored = stepped.withColumn("factor_milli", factor.cast("long"))
    # normalization total via the scalar-join idiom (broadcast of a
    # 1-row aggregate) instead of an unpartitioned window — same 20-row
    # input, but no single-partition WindowExec in the plan
    total_df = factored.agg(
        F.sum(F.col("n_docs") * F.col("factor_milli")).alias("_total")
    )
    return (
        factored.crossJoin(F.broadcast(total_df))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "domain_loss",
            "excess_milli",
            "factor_milli",
            round_div(
                F.col("n_docs") * F.col("factor_milli") * 1.0,
                F.col("_total"),
                6,
            ).alias("weight"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# curriculum_pack_easy_first
# --------------------------------------------------------------------

_CP_BUDGET = 512  # tokens per pack (token_budget_packing's unit)


def _curriculum_oracle() -> str:
    return f"""
    SELECT doc_id, lang, difficulty_milli, n_tokens,
           CAST(FLOOR((cum_tokens - n_tokens) / {_CP_BUDGET}) AS BIGINT)
             AS pack_id
    FROM (
      SELECT doc_id, lang, difficulty_milli, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY difficulty_milli, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               ((n_chars - len(string_split(text, ' ')) + 1) * 1000)
                 // len(string_split(text, ' ')) AS difficulty_milli
        FROM documents)
    )
    ORDER BY doc_id
    """


@register(
    "curriculum_pack_easy_first",
    _curriculum_oracle(),
    doc="curriculum-ordered sequence packing: token_budget_packing's "
    "running-sum pack assignment, but per language the documents are "
    "ordered EASY -> HARD before packing (difficulty proxy = average "
    "token length in integer millis — floor division, so the sort key "
    "is exact on both engines — with doc_id as the total-order "
    "tiebreak). Early packs then hold the easiest documents: the "
    "standard length-curriculum recipe for LLM training, fully "
    "deterministic and seedless. Swapping the difficulty expression "
    "for a model score changes one line. 100 TB shape: ONE window "
    "shuffle partitioned by the class key (same as the registered "
    "packer); the difficulty key is a map-side projection, and no "
    "global sort exists — ordering is per-language inside the "
    "window partition.",
)
def curriculum_pack_easy_first(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    diff = F.expr(
        "((n_chars - size(split(text, ' ')) + 1) * 1000)"
        " div size(split(text, ' '))"
    )
    base = docs.select(
        "doc_id",
        "lang",
        n_tok.cast("long").alias("n_tokens"),
        diff.alias("difficulty_milli"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("difficulty_milli", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return base.select(
        "doc_id",
        "lang",
        "difficulty_milli",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / _CP_BUDGET
        )
        .cast("long")
        .alias("pack_id"),
    ).orderBy("doc_id")
