"""Round-25-batch queries: harmonic size-class packing, FlashText
multi-replace, and the adaptive prefix-sum switch.

Each one is registered with a DuckDB value-hash oracle, checked by
tests/test_queries_oracle.py; tests/test_r25_staging.py keeps the
semantic replays.

The three close real gaps (VERDICT r13 item 7's named candidates):

- ``harmonic_size_class_packing`` — the ``token_budget_packing``
  upgrade: greedy in-order packing (pack_id = floor(cumsum/budget))
  fills bins with whatever arrives, wasting tail capacity exactly the
  way "Fewer Truncations Improve Language Modeling" (Ding et al.
  2024) shows hurts training. Exact best-fit-decreasing is inherently
  sequential (each placement depends on every open bin), so the
  scalable form is the HARMONIC algorithm (Lee & Lee 1985): classify
  each document into size class k = capacity div length — every item
  in class k satisfies k·len <= capacity, so exactly k of them fill a
  bin — then within (lang, class) rank by length descending and
  assign bin = (rank-1) div k. Fully closed-form (two partitioned
  windows, zero driver state, zero sequential dependence), provably
  never overflows a bin, and ceil(n/k) bins per class is OPTIMAL
  within the class. The compared bytes carry every per-doc
  assignment plus per-bin fill/slack, so the no-overflow contract and
  the class algebra are both value-hashed.
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
- ``prefix_sum_adaptive_switch`` — the registered witness for the
  serial-vs-two-phase crossover in functions/prefix.py
  (``adaptive_prefix_sum``): a running total over a model-sized
  rollup should NOT pay two-phase's localCheckpoint + totals job +
  offset join, and a running total over data-sized input must not
  ride a single-partition window. The switch rule (n <= 2000 →
  serial) is derived INDEPENDENTLY by both engines — the oracle
  computes the same CASE over COUNT(*) — and the compared bytes
  carry the chosen mode per leg AND the running totals, so the hash
  pins (a) the rule itself and (b) that both branches produce
  bit-identical sums (decimal accumulation in every phase). The
  fixture makes the switch non-vacuous at every gated SF: the
  rollup leg (150 type-day rows) is always serial, while the raw
  leg crosses the threshold between sf0.001 (1000 rows, serial) and
  sf0.01/0.1 (10k/100k rows, two-phase) — the sf0.001 test oracle and
  the sf0.01 driver oracle together exercise BOTH branches on the
  same leg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import register, t

# --------------------------------------------------------------------
# harmonic_size_class_packing
# --------------------------------------------------------------------

_HP_CAP = 128  # bin capacity in tokens (> max doc length in the
# fixture, so every class k >= 1; production uses the model context)


def _hp_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cls AS (
      SELECT doc_id, lang, n_tokens,
             CAST(GREATEST({_HP_CAP} // n_tokens, 1) AS BIGINT)
               AS size_class
      FROM base
    ),
    ranked AS (
      SELECT doc_id, lang, n_tokens, size_class,
             ROW_NUMBER() OVER (PARTITION BY lang, size_class
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM cls
    ),
    binned AS (
      SELECT doc_id, lang, n_tokens, size_class,
             CAST((rn - 1) // size_class AS BIGINT) AS bin_idx
      FROM ranked
    )
    SELECT doc_id, lang, n_tokens, size_class, bin_idx,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang, size_class, bin_idx)
                AS BIGINT) AS bin_fill,
           CAST({_HP_CAP} - SUM(n_tokens)
                  OVER (PARTITION BY lang, size_class, bin_idx)
                AS BIGINT) AS bin_slack,
           CAST(CASE WHEN COUNT(*) OVER (PARTITION BY lang, size_class,
                                         bin_idx) = size_class
                     THEN 1 ELSE 0 END AS BIGINT) AS full_bin
    FROM binned
    ORDER BY doc_id
    """


@register(
    "harmonic_size_class_packing",
    _hp_oracle(),
    doc="document packing by the harmonic size-class algorithm (Lee & "
    "Lee 1985) — the scalable form of best-fit-decreasing and the "
    "upgrade of token_budget_packing's greedy in-order splitter "
    "(motivation: Ding et al. 2024, 'Fewer Truncations Improve "
    f"Language Modeling'). Size class k = {_HP_CAP} div n_tokens puts "
    "each document in the class where exactly k items fill a bin "
    "(k*len <= capacity by construction — the no-overflow proof is "
    "one line of integer algebra, and it rides the compared bytes as "
    "bin_fill/bin_slack); within (lang, class) documents rank by "
    "length DESC (the 'decreasing' part) and bin = (rank-1) div k, so "
    "ceil(n/k) bins per class — OPTIMAL within the class. Exact "
    "best-fit is inherently sequential (every placement inspects all "
    "open bins); the harmonic form is fully closed-form: two "
    "lang-and-class-PARTITIONED windows, zero driver state, zero "
    "sequential dependence. 100 TB shape: one map-only projection + "
    "one partitioned rank window + one partitioned fill window — "
    "parallel across (lang, class) partitions, linear in documents, "
    "and the class count is bounded by the capacity (a model "
    "constant), never by data.",
)
def harmonic_size_class_packing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return harmonic_size_class_packing_from(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )


def harmonic_size_class_packing_from(docs: DataFrame) -> DataFrame:
    """The full harmonic assignment over a (doc_id, lang, text) frame —
    shared with tools/stress_check.py's ``harmonic_pack`` stage so the
    stress row always measures the shipping shape."""
    base = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    # GREATEST(.., 1): a document LONGER than the capacity computes
    # k = 0 and would divide by zero in the bin assignment; the
    # harmonic convention routes unpackable items to class 1 — each
    # gets a dedicated bin whose negative bin_slack records the
    # truncation debt honestly (the fixture never exercises this:
    # max 100 tokens < cap 128 — the guard is the 100 TB contract)
    cls = base.withColumn(
        "size_class",
        F.greatest(
            F.expr(f"{_HP_CAP} div n_tokens"), F.lit(1)
        ).cast("long"),
    )
    w_rank = Window.partitionBy("lang", "size_class").orderBy(
        F.desc("n_tokens"), "doc_id"
    )
    binned = (
        cls.withColumn("row_num", F.row_number().over(w_rank).cast("long"))
        .withColumn(
            "bin_idx", F.expr("(row_num - 1) div size_class").cast("long")
        )
        .drop("row_num")
    )
    w_bin = Window.partitionBy("lang", "size_class", "bin_idx")
    return binned.select(
        "doc_id",
        "lang",
        "n_tokens",
        "size_class",
        "bin_idx",
        F.sum("n_tokens").over(w_bin).cast("long").alias("bin_fill"),
        (F.lit(_HP_CAP) - F.sum("n_tokens").over(w_bin))
        .cast("long")
        .alias("bin_slack"),
        F.when(
            F.count(F.lit(1)).over(w_bin) == F.col("size_class"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("full_bin"),
    ).orderBy("doc_id")


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
    integer `div` on named columns (the ADVICE r11 discipline — no
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
# prefix_sum_adaptive_switch
# --------------------------------------------------------------------

_PS_DAY_US = 86_400_000_000


def _ps_oracle() -> str:
    from market_pulse_data_pipeline_spark.functions.prefix import (
        PREFIX_SERIAL_MAX_ROWS,
    )

    thr = PREFIX_SERIAL_MAX_ROWS
    return f"""
    WITH ev AS (
      SELECT event_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_PS_DAY_US} AS day
      FROM events
    ),
    a AS (
      SELECT event_type, day, COUNT(*) AS cnt
      FROM ev GROUP BY 1, 2
    ),
    an AS (SELECT COUNT(*) AS n FROM a),
    bn AS (SELECT COUNT(*) AS n FROM ev),
    aleg AS (
      SELECT 'daily_rollup' AS leg,
             event_type || '#' || CAST(day AS VARCHAR) AS ord_key,
             CAST(SUM(CAST(cnt AS DECIMAL(38,6)))
                    OVER (ORDER BY event_type, day
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running,
             (SELECT CASE WHEN n <= {thr} THEN 'serial'
                          ELSE 'two_phase' END FROM an) AS mode
      FROM a
    ),
    bleg AS (
      SELECT 'raw_events' AS leg,
             CAST(event_id AS VARCHAR) AS ord_key,
             CAST(SUM(CAST(value AS DECIMAL(38,6)))
                    OVER (ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running,
             (SELECT CASE WHEN n <= {thr} THEN 'serial'
                          ELSE 'two_phase' END FROM bn) AS mode
      FROM ev
    )
    SELECT * FROM aleg
    UNION ALL
    SELECT * FROM bleg
    ORDER BY leg, ord_key
    """


@register(
    "prefix_sum_adaptive_switch",
    _ps_oracle(),
    doc="the registered witness of functions/prefix.py's "
    "serial-vs-two-phase crossover (adaptive_prefix_sum): running "
    "totals over TWO legs — a model-sized rollup (one row per "
    "(event_type, day), 150 rows at every fixture SF) and the raw "
    "event stream — each routed by the size rule n <= "
    "PREFIX_SERIAL_MAX_ROWS. The oracle derives the SAME rule from "
    "COUNT(*), so the compared bytes pin (a) the rule itself (the "
    "mode column) and (b) branch equivalence: decimal accumulation "
    "in every phase makes serial and two-phase bit-identical, so "
    "whichever branch runs, the running totals hash-match the "
    "oracle's plain serial window. Non-vacuous by construction: the "
    "rollup leg is always serial (a 150-row global window is the "
    "sanctioned model-sized case — cheaper than two-phase's "
    "localCheckpoint + totals job + offset join), while the raw leg "
    "crosses the threshold between sf0.001 (serial) and sf0.01/0.1 "
    "(two-phase) — the sf0.001 and sf0.01 oracle checks together "
    "exercise BOTH branches of the switch on the same leg. 100 TB "
    "shape: the raw leg is the two-phase path (range partition + "
    "local cumsums + O(partitions) offsets); the size probe is one "
    "count() — at warehouse scale table statistics replace it.",
)
def prefix_sum_adaptive_switch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return prefix_sum_adaptive_switch_from(
        t(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "value",
            F.expr(f"unix_micros(ts) div {_PS_DAY_US}").alias("day"),
        )
    )


def prefix_sum_adaptive_switch_from(ev: DataFrame) -> DataFrame:
    """Both adaptive legs over an (event_id, event_type, value, day)
    frame — shared with tools/stress_check.py's ``adaptive_prefix``
    stage so the stress row always measures the shipping shape."""
    from market_pulse_data_pipeline_spark.functions.prefix import (
        adaptive_prefix_sum,
    )

    a = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a_run, a_mode = adaptive_prefix_sum(
        a, ["event_type", "day"], F.col("cnt")
    )
    leg_a = a_run.select(
        F.lit("daily_rollup").alias("leg"),
        F.concat(
            F.col("event_type"), F.lit("#"), F.col("day").cast("string")
        ).alias("ord_key"),
        F.col("running_total").cast("double").alias("running"),
        F.lit(a_mode).alias("mode"),
    )
    b_run, b_mode = adaptive_prefix_sum(ev, ["event_id"], F.col("value"))
    leg_b = b_run.select(
        F.lit("raw_events").alias("leg"),
        F.col("event_id").cast("string").alias("ord_key"),
        F.col("running_total").cast("double").alias("running"),
        F.lit(b_mode).alias("mode"),
    )
    return leg_a.unionByName(leg_b).orderBy("leg", "ord_key")
