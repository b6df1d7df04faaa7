"""Multi-format source/sink round-trips, hash-checked.

The reference ingests JSON documents and materializes warehouse tables
(SURVEY §2 S2/S3/S7); an engine that replaces it must read and write
the standard lake formats losslessly. Each query here writes a testdata
table to a format (ORC / CSV / JSON-lines / hive-partitioned parquet)
in a per-process scratch dir, reads it back with Spark, and returns the
re-read rows — while the DuckDB oracle reads the ORIGINAL parquet. A
hash match therefore proves the full write→read cycle preserved every
value (quoting, escaping, date/timestamp precision, doubles).

All four formats are splittable on read (ORC/parquet by stripe/row
group, CSV/JSON by line), so at 100 TB the scan parallelism story is
the same as parquet's; ORC and parquet additionally carry column
statistics for predicate pushdown, which `partitioned_write_readback`
demonstrates at the partition level (pruning, not just row-group
skipping).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import register, scratch, t

# JSON timestamps: Spark's default format carries milliseconds only;
# events.ts is microsecond-precision, so both sides of the JSON
# round-trip pin an explicit micros format.
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


@register(
    "format_roundtrip_orc",
    """
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents
    """,
    doc="ORC sink + source round-trip: documents written to ORC "
    "(zlib, column stats) and re-read; the oracle reads the original "
    "parquet, so a hash match proves ORC preserved every value. "
    "Returns md5(text) rather than text so the harness never ships "
    "full documents. Write is map-only; ORC stripes make the re-read "
    "splittable and predicate-pushdown-capable like parquet.",
)
def format_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("docs_orc")
    t(spark, sf_dir, "documents").write.mode("overwrite").orc(path)
    docs = spark.read.orc(path)
    return docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
    )


@register(
    "format_roundtrip_csv",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           concat(o_orderstatus, ', ', o_orderpriority) AS note
    FROM orders
    """,
    doc="CSV sink + source round-trip on orders: the synthesized note "
    "column embeds a comma to force quoting/escaping through the "
    "codec, o_totalprice exercises the shortest-round-trip "
    "double encoding, o_orderdate the date codec. Re-read uses an "
    "explicit schema (never inferSchema — schema inference is a full "
    "extra pass at 100 TB). Hash match vs the original parquet proves "
    "losslessness; CSV stays line-splittable for parallel scans.",
)
def format_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("orders_csv")
    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.concat_ws(", ", "o_orderstatus", "o_orderpriority").alias("note"),
    )
    src.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, note string"
    ).option("header", True).csv(path)


@register(
    "format_roundtrip_jsonl",
    """
    SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           user_id, event_type, value, props
    FROM events
    """,
    doc="JSON-lines sink + source round-trip on events: props holds an "
    "embedded JSON string (escaping exercise), ts is micros-precision "
    "(explicit timestampFormat on both sides — Spark's default JSON "
    "format truncates to millis), value the double codec. Explicit "
    "schema on re-read; line-splittable. Hash match vs original "
    "parquet proves the cycle lossless.",
)
def format_roundtrip_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("events_jsonl")
    t(spark, sf_dir, "events").write.mode("overwrite").option(
        "timestampFormat", _TS_FMT
    ).json(path)
    return spark.read.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).option("timestampFormat", _TS_FMT).json(path).select(
        "event_id",
        # epoch micros: micros-precision equality is the round-trip
        # claim, and the compared bytes stay timezone-independent
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@register(
    "partitioned_write_readback",
    """
    SELECT event_type, user_id,
           CAST(COUNT(*) AS INTEGER) AS n,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type, user_id
    ORDER BY event_type, user_id
    """,
    doc="hive-partitioned parquet sink + partition-pruned source: "
    "events written partitionBy(event_type), re-read with an "
    "event_type IN (...) filter that prunes to 2 of 5 partition "
    "directories at planning time (PartitionFilters in the scan node — "
    "the file listing itself shrinks, which at 100 TB is the "
    "difference between touching 2 TB and 100 TB). The aggregate "
    "hash-checks against the unpartitioned original, proving the "
    "partition columns survived the directory-encoding round-trip.",
)
def partitioned_write_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("events_part")
    t(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(path)
    ev = spark.read.parquet(path)
    return (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", "user_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n"),
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        .orderBy("event_type", "user_id")
    )


@register(
    "schema_evolution_read",
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END
             AS o_orderstatus
    FROM orders
    """,
    doc="schema-evolution read: two parquet batches with DIFFERENT "
    "schemas under one table root (the old files lack o_orderstatus — "
    "a column added mid-lifetime), re-read with mergeSchema=true; "
    "rows from pre-evolution files surface NULL for the new column. "
    "The oracle derives the same shape from the original table. At "
    "100 TB this is how a lake table grows columns without rewriting "
    "history; mergeSchema reconciles footers at planning time "
    "(file-count-proportional, not data-proportional).",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("orders_evolved")
    src = t(spark, sf_dir, "orders")
    old = src.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = src.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "batch=v1"))
    new.write.mode("overwrite").parquet(os.path.join(path, "batch=v2"))
    return (
        spark.read.option("mergeSchema", True)
        .option("recursiveFileLookup", True)
        .parquet(path)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


@register(
    "xml_parse_roundtrip",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           o_orderpriority
    FROM orders
    """,
    doc="XML ingestion surface (from_xml — native in Spark 4): each "
    "order rendered as an XML element (key as an ATTRIBUTE, fields as "
    "child elements) and parsed back through from_xml with an "
    "explicit schema; the oracle reads the original table, so the "
    "hash match proves the render→parse cycle is lossless, including "
    "the double (Java's shortest-round-trip double rendering) and the "
    "date. Parsing is a map-only expression — at 100 TB, XML feeds "
    "shred in the scan stage with zero shuffle, same as the JSON "
    "path (spark.read.format('xml') shares this parser for files).",
)
def xml_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    xml = orders.select(
        F.concat(
            F.lit('<order id="'),
            F.col("o_orderkey").cast("string"),
            F.lit('"><status>'),
            F.col("o_orderstatus"),
            F.lit("</status><total>"),
            F.col("o_totalprice").cast("string"),
            F.lit("</total><odate>"),
            F.col("o_orderdate").cast("date").cast("string"),
            F.lit("</odate><prio>"),
            F.col("o_orderpriority"),
            F.lit("</prio></order>"),
        ).alias("doc")
    )
    parsed = xml.select(
        F.from_xml(
            "doc",
            "_id BIGINT, status STRING, total DOUBLE, odate DATE, "
            "prio STRING",
        ).alias("v")
    )
    return parsed.select(
        F.col("v._id").alias("o_orderkey"),
        F.col("v.status").alias("o_orderstatus"),
        F.col("v.total").alias("o_totalprice"),
        F.col("v.odate").alias("o_orderdate"),
        F.col("v.prio").alias("o_orderpriority"),
    )
