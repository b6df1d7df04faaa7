"""The r18 query batch. Each query is registered with a DuckDB
value-hash oracle, checked by tests/test_queries_oracle.py;
tests/test_r18_staging.py keeps the semantic pins.

The three close distinct holes:

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
- ``deletion_vector_scan`` — the lakehouse merge-on-read READ path
  (Iceberg position deletes / Delta deletion vectors): a base file
  set plus a separate position-delete table; reading = base ANTI JOIN
  deletes on the row address. The oracle computes the equivalent
  LOGICAL delete directly (CASE-filtered aggregates), so hash
  equality proves the DV read path reconstructs exactly the logical
  table — the MoR correctness contract. Complements keyed_upsert /
  pointer_swap_time_travel (copy-on-write) with the merge-on-read
  half of the lakehouse story.
- ``dynamic_partition_pruning_join`` — runtime partition pruning, THE
  join-side scan saver at 100 TB: a fact table hive-partitioned on
  the join key, joined to a filtered dimension; Spark inserts a
  dynamicpruning subquery into the fact scan so only the dimension's
  surviving keys' partitions are LISTED, let alone read. The pytest
  pin asserts the ``dynamicpruning`` expression is present in the
  executed plan — the oracle proves values, the pin proves the scan
  never touches the pruned 3/5 of the table.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_sum,
    sql_round_sum,
    t,
)

_R18_ROOT = os.path.join(
    tempfile.gettempdir(), f"mp_r18_oracle_{os.getpid()}"
)
atexit.register(lambda: shutil.rmtree(_R18_ROOT, ignore_errors=True))


def _scratch(name: str) -> str:
    path = os.path.join(_R18_ROOT, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


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
# deletion_vector_scan
# --------------------------------------------------------------------

_DV_FILES = 8  # l_orderkey % 8 plays the data-file id
_DV_DEL_MOD = 19  # (7*orderkey + linenumber) % 19 == 0 marks deleted


def _dv_scan_oracle() -> str:
    pred = f"(7 * l_orderkey + l_linenumber) % {_DV_DEL_MOD} = 0"
    return f"""
    SELECT l_orderkey % {_DV_FILES} AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deleted,
           CAST(SUM(CASE WHEN {pred} THEN 0 ELSE 1 END) AS BIGINT)
             AS n_live,
           {sql_round_sum(
        f'CASE WHEN {pred} THEN 0 ELSE l_quantity END', 2, 2
    )} AS live_qty_sum
    FROM lineitem
    GROUP BY 1
    ORDER BY file_id
    """


@register(
    "deletion_vector_scan",
    _dv_scan_oracle(),
    doc="lakehouse merge-on-read READ path (Iceberg position deletes / "
    "Delta deletion vectors): the base rows and a SEPARATE position-"
    "delete table (the DV — row addresses only, no data), where "
    "reading the logical table = base ANTI JOIN deletes on the row "
    "address, per file. The oracle computes the equivalent LOGICAL "
    "delete directly as CASE-filtered aggregates, so the value hash "
    "proves the DV read path reconstructs exactly the logical table — "
    "the MoR correctness contract, the other half of the lakehouse "
    "story from keyed_upsert / pointer_swap_time_travel's copy-on-"
    "write. Emits the per-file audit (total / deleted / live counts, "
    "live quantity through the exact-decimal route) a compaction "
    "scheduler consumes to decide when DVs are worth rewriting into "
    "data files. 100 TB shape: the DV is addresses-only (bytes per "
    "deleted row, broadcastable by construction — deletes are a tiny "
    "fraction of the base or you'd rewrite the file), so the read is "
    "a map-side broadcast anti-join + one file-keyed aggregate; the "
    "base is never rewritten, which is the entire point of MoR.",
)
def deletion_vector_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_orderkey") % _DV_FILES).alias("file_id"),
    )
    addr_mod = (
        F.lit(7) * F.col("l_orderkey") + F.col("l_linenumber")
    ) % _DV_DEL_MOD
    # the position-delete table: addresses only, as a real DV is
    dv = base.filter(addr_mod == 0).select("l_orderkey", "l_linenumber")
    live = base.join(
        F.broadcast(dv), ["l_orderkey", "l_linenumber"], "left_anti"
    )
    totals = base.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    deleted = (
        dv.select((F.col("l_orderkey") % _DV_FILES).alias("file_id"))
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    )
    live_agg = live.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        round_sum(F.col("l_quantity"), 2, 2).alias("live_qty_sum"),
    )
    return (
        totals.join(deleted, "file_id", "left")
        .join(live_agg, "file_id", "left")
        .select(
            "file_id",
            "n_total",
            F.coalesce("n_deleted", F.lit(0).cast("long")).alias(
                "n_deleted"
            ),
            F.coalesce("n_live", F.lit(0).cast("long")).alias("n_live"),
            F.coalesce("live_qty_sum", F.lit(0.0)).alias("live_qty_sum"),
        )
        .orderBy("file_id")
    )


# --------------------------------------------------------------------
# dynamic_partition_pruning_join
# --------------------------------------------------------------------

_DPP_URGENT = ("1-URGENT", "2-HIGH")


def _dpp_oracle() -> str:
    in_list = ", ".join(f"'{p}'" for p in _DPP_URGENT)
    return f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_round_sum('o_totalprice', 2, 2)} AS revenue
    FROM orders
    WHERE o_orderpriority IN ({in_list})
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


@register(
    "dynamic_partition_pruning_join",
    _dpp_oracle(),
    doc="runtime partition pruning — THE fact-scan saver for "
    "star-schema joins at 100 TB: orders hive-partitioned on the join "
    "key (order priority, 5 directories), joined to a dimension "
    "filtered AFTER planning (urgent priorities only), so the "
    "surviving keys are unknowable at compile time and static "
    "partition pruning cannot fire. Spark's dynamic partition "
    "pruning inserts a dynamicpruning subquery into the fact scan — "
    "reusing the join's broadcast — so only 2 of 5 partition "
    "directories are LISTED, let alone read; at 100 TB that is the "
    "difference between scanning 40 TB and 100 TB with zero query "
    "rewrite. The oracle proves the values; the pytest pin asserts "
    "the dynamicpruning expression is actually present in the "
    "executed plan (the feature, not just the numbers). Write is the "
    "same scratch-sink discipline as the formats family.",
)
def dynamic_partition_pruning_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _scratch("orders_by_priority")
    t(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(path)
    fact = spark.read.parquet(path)
    # the dimension: derived from data (not a literal) so Catalyst
    # cannot constant-fold the filter into a static partition list —
    # the pruning must happen at RUNTIME, which is the witnessed feature
    dim = (
        fact.select("o_orderpriority")
        .distinct()
        .withColumn(
            "urgent", F.col("o_orderpriority").isin(*_DPP_URGENT)
        )
        .filter("urgent")
        .drop("urgent")
    )
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            round_sum(F.col("o_totalprice"), 2, 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )
