"""The r16 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r16_staging.py keeps the semantic pins.

The three close capability holes no registered query witnesses yet:

- ``bloom_decontaminate_portable`` — the registry's decontamination
  family documents "swap in a bloom filter when the eval gram set
  outgrows the broadcast threshold" (eval_decontaminate_exact_ngrams,
  r8) but has no registered witness of that fallback actually
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
- ``delta_join_view_maintenance`` — incremental view maintenance of a
  join-aggregate by the four-quadrant delta algebra (the DBSP /
  materialized-view identity): with orders = A0 ∪ ΔA and customer =
  B0 ∪ ΔB (disjoint splits), A ⋈ B = (A0⋈B0) ∪ (ΔA⋈B0) ∪ (A0⋈ΔB) ∪
  (ΔA⋈ΔB), so a grouped aggregate over the join is maintained by
  combining the materialized partial state with three DELTA-sized
  joins instead of re-joining the full base. The oracle is the full
  recompute — value-hash equality IS the IVM-correctness proof.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    sql_round_sum,
    t,
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
    "(r8) when the eval gram set outgrows the broadcast threshold, "
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
        # fan_out BEFORE the md5-per-window projection (round-10
        # single-split finding); no-op on a many-split corpus. The
        # EVAL side skips it (r16): ~1/59 of the docs produce a few
        # thousand windows — single-digit ms of md5 — so spreading
        # them over defaultParallelism tasks was pure exchange and
        # task-overhead cost on both eval passes. dense=True (r17):
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
    # otherwise re-run the eval scan + md5 pipeline (r16)
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
    # at construction time — r16); the parser ingests the same array in
    # milliseconds and constant folding collapses it to the identical
    # single Literal before execution. The literal form is only safe
    # because _BL_WORD = 63 keeps bit 63 of every word clear — a word
    # equal to Long.MIN_VALUE has no SQL long-literal spelling (ADVICE
    # r16); the assert ties this line to that invariant so a future
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
    # would run single-core (round-10 finding); no-op on a real corpus
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
# delta_join_view_maintenance
# --------------------------------------------------------------------

_DV_ORD_MOD = 10  # o_orderkey % 10 == 0 plays the order-side delta ΔA
_DV_CUST_MOD = 7  # c_custkey % 7 == 0 plays the customer-side delta ΔB


def _dv_oracle() -> str:
    return f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_round_sum('o.o_totalprice', 2, 2)} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n_name
    """


@register(
    "delta_join_view_maintenance",
    _dv_oracle(),
    doc="incremental view maintenance of a join-aggregate by the "
    "four-quadrant delta algebra (the DBSP / materialized-view "
    "identity): with orders = A0 ∪ ΔA and customer = B0 ∪ ΔB "
    "(disjoint key-residue splits standing in for 'rows that arrived "
    "since the last refresh'), A ⋈ B decomposes EXACTLY into "
    "(A0⋈B0) ∪ (ΔA⋈B0) ∪ (A0⋈ΔB) ∪ (ΔA⋈ΔB), so the per-nation "
    "revenue view is maintained by UNIONing four grouped PARTIAL "
    "aggregates — the materialized bootstrap state plus three delta "
    "joins — and combining them in one tiny final aggregate (25 "
    "nation rows). Partial sums ride DECIMAL(20,2) so the four-way "
    "reassociation is exact and the value hash cannot drift. The "
    "oracle is the monolithic full recompute: hash equality IS the "
    "IVM-correctness proof. 100 TB shape: the big-big shuffle join "
    "happens ONCE at bootstrap (A0⋈B0, the materialized state); "
    "steady-state refresh cost is |Δ|-sized — ΔA broadcasts against "
    "B0, ΔB broadcasts against A0 (a map-only base scan prunable by "
    "partition/bloom on the delta's key set), ΔA⋈ΔB is tiny-tiny — "
    "versus re-joining the full base every refresh. The same partial-"
    "aggregate state generalizes to any abelian aggregate (sum/count/"
    "min-lattice), which is why the final combine is exact.",
)
def delta_join_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    a0 = orders.filter(F.col("o_orderkey") % _DV_ORD_MOD != 0)
    da = orders.filter(F.col("o_orderkey") % _DV_ORD_MOD == 0)
    b0 = cust.filter(F.col("c_custkey") % _DV_CUST_MOD != 0)
    db = cust.filter(F.col("c_custkey") % _DV_CUST_MOD == 0)

    def partial(o: DataFrame, c: DataFrame, bcast: str) -> DataFrame:
        """Grouped partial state (n, exact decimal sum) per nation for
        one quadrant; ``bcast`` marks the genuinely small side —
        quadrants carrying a delta broadcast it, the bootstrap
        quadrant shuffles (its one-time cost is the point)."""
        if bcast == "orders":
            j = F.broadcast(o).join(c, o["o_custkey"] == c["c_custkey"])
        elif bcast == "customer":
            j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        else:
            j = o.join(c, o["o_custkey"] == c["c_custkey"])
        return (
            j.join(
                F.broadcast(nation),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias(
                    "s"
                ),
            )
        )

    state = (
        partial(a0, b0, "none")  # bootstrap: the one big-big join
        .unionByName(partial(da, b0, "orders"))  # ΔA ⋈ B0
        .unionByName(partial(a0, db, "customer"))  # A0 ⋈ ΔB
        .unionByName(partial(da, db, "customer"))  # ΔA ⋈ ΔB
    )
    return (
        state.groupBy("n_name")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.round(F.sum("s"), 2).cast("double").alias("revenue"),
        )
        .orderBy("n_name")
    )
