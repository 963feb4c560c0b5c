"""Source/sink roundtrip operators (SURVEY.md §2.1, S1-S12).

Each registered query exercises one scan/sink pair end-to-end: write the
testdata through the sink under ``spark-warehouse/scratch``, read it back
through the matching scan, and aggregate — the DuckDB oracle runs the same
aggregate on the *original* parquet, so a lossy sink or a mis-typed scan
fails the value-hash gate.

Scale posture: the partitioned sink (S5) is the 100 TB layout — readers
prune ``year=/month=`` directories (reference
`src/enhanced_spark_etl.py:777-782`); the compaction sink (S6) bounds
small-file count; sums are computed in DECIMAL so results are independent
of partition/merge order.

CSV roundtrips use midnight-grid ``orders`` timestamps (the testdata's
``events.ts`` carries microseconds, which the reference's
``yyyy-MM-dd HH:mm:ss`` timestampFormat — `src/enhanced_spark_etl.py:121`
— would truncate; parquet roundtrips keep them exact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.numeric import dsum, sql_dsum
from ..registry import register
from .catalog import dir_tag, load_table, pin_derived, read_csv_with_schema

SCRATCH = os.path.join(os.path.dirname(__file__), "..", "..", "spark-warehouse", "scratch")

ORDERS_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampType()),
        StructField("o_orderpriority", StringType()),
    ]
)


def _scratch(name: str, sf_dir: str) -> str:
    return os.path.join(SCRATCH, f"{name}-{dir_tag(sf_dir)}")


def _orders_checksum(df: DataFrame) -> DataFrame:
    """Order-independent aggregate fingerprint of the orders table
    (decimal sums: exact regardless of partition layout)."""
    return df.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_keys"),
        F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
        .cast("double")
        .alias("sum_price"),
        F.max("o_orderdate").alias("max_date"),
        F.min("o_orderpriority").alias("min_priority"),
    )


_ORDERS_CHECKSUM_SQL = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT o_orderkey) AS n_keys,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_price,
       MAX(o_orderdate) AS max_date,
       MIN(o_orderpriority) AS min_priority
FROM orders
"""


@register(
    "s01_csv_roundtrip_schema",
    oracle=_ORDERS_CHECKSUM_SQL,
    doc="S1: header-CSV sink → explicit-schema scan (no inference pass), "
    "checksum parity vs the original parquet (reference src/spark_etl.py:47-64)",
)
def s01_csv_roundtrip_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s01_csv", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.withColumn(
            "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    return _orders_checksum(read_csv_with_schema(spark, path, ORDERS_SCHEMA))


@register(
    "s02_csv_infer_roundtrip",
    oracle=_ORDERS_CHECKSUM_SQL,
    doc="S2: CSV scan with inferSchema + timestampFormat "
    "(reference src/enhanced_spark_etl.py:118-126)",
)
def s02_csv_infer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s02_csv", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.withColumn(
            "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    inferred = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )
    # inference may land on int for keys; normalize to the declared types
    casted = inferred.select(
        F.col("o_orderkey").cast("long"),
        F.col("o_custkey").cast("long"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double"),
        F.col("o_orderdate").cast("timestamp"),
        "o_orderpriority",
    )
    return _orders_checksum(casted)


@register(
    "s05_partitioned_sink_prune",
    oracle="""
    SELECT EXTRACT(month FROM ts) AS month,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE EXTRACT(year FROM ts) = 2024 AND EXTRACT(month FROM ts) <= 2
    GROUP BY 1
    """,
    doc="S5: partitioned parquet sink (year=/month=) + partition-pruned scan "
    "— the 100 TB layout (reference src/enhanced_spark_etl.py:777-782)",
)
def s05_partitioned_sink_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s05_part", sf_dir)
    ev = load_table(spark, sf_dir, "events").withColumns(
        {"year": F.year("ts"), "month": F.month("ts")}
    )
    ev.write.mode("overwrite").partitionBy("year", "month").parquet(path)
    back = spark.read.parquet(path)
    # the filter prunes to the year=2024/month<=2 directories only —
    # .explain shows PartitionFilters, no full scan
    return (
        back.filter((F.col("year") == 2024) & (F.col("month") <= 2))
        .groupBy("month")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "s06_compacted_sink",
    oracle=_ORDERS_CHECKSUM_SQL,
    doc="S6: coalesced single-file parquet sink (small-file compaction, "
    "reference src/spark_etl.py:241) → scan → checksum parity",
)
def s06_compacted_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s06_compact", sf_dir)
    load_table(spark, sf_dir, "orders").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    return _orders_checksum(spark.read.parquet(path))


@register(
    "s11_json_roundtrip",
    oracle=_ORDERS_CHECKSUM_SQL,
    doc="S11: JSON-lines sink → schema'd JSON scan "
    "(reference src/enhanced_spark_etl.py:795-812 report sink)",
)
def s11_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s11_json", sf_dir)
    load_table(spark, sf_dir, "orders").write.mode("overwrite").json(path)
    back = spark.read.schema(ORDERS_SCHEMA).json(path)
    return _orders_checksum(back)


@register(
    "s12_cached_reuse",
    oracle="""
    WITH src AS (SELECT * FROM orders WHERE o_orderstatus = 'F')
    SELECT 'by_priority' AS grain, o_orderpriority AS key,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total
    FROM src GROUP BY 2
    UNION ALL
    SELECT 'by_status' AS grain, o_orderstatus AS key,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total
    FROM src GROUP BY 2
    """,
    doc="S12: cache() a filtered scan, reuse it across two aggregates "
    "(reference src/spark_etl.py:59, size-gated src/enhanced_spark_etl.py:134-140)",
)
def s12_cached_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = pin_derived(
        spark,
        sf_dir,
        "s12_finished_orders",
        lambda: load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderstatus") == "F"
        ),
    )
    dsum = F.sum(F.col("o_totalprice").cast("decimal(27,6)")).cast("double")
    by_priority = src.groupBy(
        F.lit("by_priority").alias("grain"), F.col("o_orderpriority").alias("key")
    ).agg(F.count("*").alias("n"), dsum.alias("total"))
    by_status = src.groupBy(
        F.lit("by_status").alias("grain"), F.col("o_orderstatus").alias("key")
    ).agg(F.count("*").alias("n"), dsum.alias("total"))
    # not unpersisted here: the driver's action must hit the cached scan;
    # the session store owns it, so state.clear reclaims it
    return by_priority.unionByName(by_status)


@register(
    "s04_glob_latest",
    oracle=_ORDERS_CHECKSUM_SQL,
    doc="S4: versioned-directory scan, latest-by-mtime pick (reference "
    "src/enhanced_spark_etl.py:824-831 globs CSVs and picks max mtime); "
    "checksum proves the stale v1 snapshot was not read",
)
def s04_glob_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import time

    root = _scratch("s04_versions", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    v1 = os.path.join(root, "v1")
    v2 = os.path.join(root, "v2")
    # v1 = stale partial snapshot; v2 (newer mtime) = the full table
    orders.filter(F.col("o_orderkey") % 2 == 0).write.mode("overwrite").parquet(v1)
    orders.write.mode("overwrite").parquet(v2)
    # pin the ordering explicitly instead of sleeping between writes:
    # what matters is v1.mtime < v2.mtime, not wall-clock spacing
    now = time.time()
    os.utime(v1, times=(now - 60, now - 60))
    os.utime(v2, times=(now, now))

    # the one permissible driver-side step: list version dirs, pick latest
    # (a metadata listing, O(#versions) — not a data read)
    versions = [p for p in glob.glob(os.path.join(root, "v*")) if os.path.isdir(p)]
    latest = max(versions, key=os.path.getmtime)
    return _orders_checksum(spark.read.parquet(latest))


@register(
    "s13_dynamic_partition_overwrite",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT o_orderkey) AS n_keys,
       CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F'
                          THEN o_totalprice * 0.9
                          ELSE o_totalprice END AS DECIMAL(27,6)))
            AS DOUBLE) AS sum_price,
       MAX(o_orderdate) AS max_date,
       MIN(o_orderpriority) AS min_priority
FROM orders
""",
    doc="S13: idempotent partition backfill — dynamic partitionOverwriteMode "
    "replaces ONLY the partitions present in the written batch (the 100 TB "
    "reprocess-one-day pattern; static mode would wipe the whole table). "
    "Checksum proves the F partition carries corrected prices while O/P "
    "rows are untouched.",
)
def s13_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s13_dyn", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    # backfill: re-derive ONE partition (corrected 10% price adjustment)
    corrected = orders.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.9
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return _orders_checksum(spark.read.parquet(path))


@register(
    "s14_orc_roundtrip",
    oracle=_ORDERS_CHECKSUM_SQL,
    doc="S14 (ext.): ORC sink -> ORC scan, checksum parity vs the original "
    "parquet. Spark's second columnar format — same predicate-pushdown / "
    "column-pruning path as parquet (zlib-compressed stripes), relevant "
    "when upstream warehouses hand over ORC instead of parquet",
)
def s14_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s14_orc", sf_dir)
    load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(path)
    return _orders_checksum(spark.read.orc(path))


@register(
    "s15_binaryfile_scan",
    # file bytes = UTF-8 text + the text sink's trailing newline
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CAST(octet_length(encode(text)) + 1 AS BIGINT)) AS BIGINT)
             AS total_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents WHERE doc_id < 50
    """,
    doc="S15 (ext.): raw-file ingest via the binaryFile source — the entry "
    "point for multimodal corpora (images/audio land as (path, length, "
    "content) rows, feeding the x13/x19 decode operators). Docs are laid "
    "out one file per doc_id directory, read back recursively, and the "
    "byte totals checked against the documents table",
)
def s15_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s15_files", sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    # one file per doc: partitionBy creates doc_id=N/part-*.txt leaves —
    # the on-disk shape a crawler/object-store dump hands the engine
    docs.select("text", "doc_id").write.mode("overwrite").partitionBy(
        "doc_id"
    ).text(path)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "false")  # partition dirs carry doc_id
        .load(path)
    )
    return files.agg(
        F.count("*").alias("n_files"),
        F.sum("length").alias("total_bytes"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


@register(
    "s16_schema_evolution",
    # v1 files lack o_orderpriority; mergeSchema surfaces it as NULL for
    # v1 rows, so priority counts come only from the v2 half while price
    # sums span both. The oracle reproduces the union semantics directly.
    oracle=f"""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(o_orderpriority) AS n_with_priority,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM unioned
    """,
    doc="S16 (ext.): schema evolution across file generations — v1 parquet "
    "written without a column, v2 written with it, one mergeSchema scan "
    "reads both (old rows NULL-fill). The pattern every long-lived 100 TB "
    "lake hits when a column is added mid-history; checksum proves rows "
    "from both generations survive with correct typing",
)
def s16_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _scratch("s16_evo", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(f"{root}/gen=1")
    v2.write.mode("overwrite").parquet(f"{root}/gen=2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{root}/gen=1", f"{root}/gen=2"
    )
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
        dsum("o_totalprice").alias("sum_price"),
    )


# --- S17 (ext.): PERMISSIVE corrupt-record handling --------------------------

# Dirty ingest is the 100 TB norm: a CSV drop where some rows carry an
# unparsable field must neither kill the job (FAILFAST) nor silently
# vanish (DROPMALFORMED) — PERMISSIVE nulls the bad field, preserves the
# raw line in a corrupt-record column, and lets the pipeline quarantine
# by it. The dirt is deterministic (every 41st order's price becomes
# 'N/A'), so the oracle reproduces every count and the clean checksum
# straight from the parquet without reading the CSV.
CORRUPT_MOD = 41


@register(
    "s17_corrupt_records",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN o_orderkey % {CORRUPT_MOD} = 0 THEN 1 END)
             AS n_corrupt,
           {sql_dsum(f"CASE WHEN o_orderkey % {CORRUPT_MOD} <> 0 "
                     f"THEN o_totalprice END")} AS clean_price_sum,
           MIN(CASE WHEN o_orderkey % {CORRUPT_MOD} = 0 THEN o_orderkey END)
             AS min_corrupt_key,
           MAX(CASE WHEN o_orderkey % {CORRUPT_MOD} = 0 THEN o_orderkey END)
             AS max_corrupt_key
    FROM orders
    """,
    doc="S17 (ext.): PERMISSIVE CSV scan of a deterministically dirtied "
    "drop (every 41st price unparsable) — bad fields null out, raw lines "
    "land in the corrupt-record column for quarantine, good rows "
    "checksum-match the source; neither FAILFAST's dead job nor "
    "DROPMALFORMED's silent loss",
)
def s17_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    path = _scratch("s17_dirty_csv", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    price_txt = F.when(
        F.col("o_orderkey") % CORRUPT_MOD == 0, F.lit("N/A")
    ).otherwise(F.format_number(F.col("o_totalprice"), 6).cast("string"))
    # format_number adds thousands separators — strip to a plain numeric
    price_txt = F.regexp_replace(price_txt, ",", "")
    (
        orders.select(
            F.concat_ws(
                ",",
                F.col("o_orderkey").cast("string"),
                price_txt,
                F.col("o_orderpriority"),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    corrupt = F.col("_corrupt_record").isNotNull()
    return raw.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(corrupt, 1)).alias("n_corrupt"),
        dsum(F.when(~corrupt, F.col("o_totalprice"))).alias("clean_price_sum"),
        F.min(F.when(corrupt, F.col("o_orderkey"))).alias("min_corrupt_key"),
        F.max(F.when(corrupt, F.col("o_orderkey"))).alias("max_corrupt_key"),
    )


# --- S18: raw text-line source (the LLM-corpus landing format) ---------------
@register(
    "s18_text_lines_scan",
    # Checksum over the documents table reconstructed from a text sink:
    # one doc per line as "<doc_id>\t<text>" (tab never occurs in the
    # fixture corpus). Exact-decimal-free: counts + md5-xor-free plain
    # aggregates keep it engine-portable.
    oracle="""
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           COUNT(DISTINCT substr(md5(text), 1, 8)) AS n_distinct_texts,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM documents
    """,
    doc="S18: spark.read.text scan — documents round-tripped through a "
    "one-record-per-line text sink (the shape raw LLM corpora land in) "
    "and re-parsed with split-once semantics; checksum parity proves no "
    "line loss, reordering tolerance, or delimiter corruption. Text "
    "sources split by file/block exactly like parquet, so the scan "
    "parallelizes at 100 TB with no schema metadata at all",
)
def s18_text_lines_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s18_text", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    line = F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text"))
    docs.select(line.alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path).select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1))
        .cast("long")
        .alias("doc_id"),
        F.split_part(F.col("value"), F.lit("\t"), F.lit(2)).alias("text"),
    )
    return back.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.countDistinct(F.substring(F.md5("text"), 1, 8)).alias(
            "n_distinct_texts"
        ),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# --- C10: small-file audit + compaction --------------------------------------
@register(
    "c10_compaction_audit",
    # File counts before compaction depend on hash placement (8 writer
    # tasks x 3 partition values), so the audit emits INVARIANT booleans
    # plus exact per-partition data checksums; n_files_after == 1 is the
    # deterministic outcome of clustering by the partition column.
    oracle="""
    SELECT o_orderstatus,
           TRUE AS was_fragmented,
           1 AS n_files_after,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
    doc="C10: the small-file problem end-to-end — a fragmented write (8 "
    "hash-distributed writer tasks per partition value) is audited via "
    "input_file_name() per-partition file counts, then compacted by "
    "re-clustering on the partition column (one writer per value => one "
    "file per directory), with exact-decimal checksums proving the "
    "rewrite lost nothing. At 100 TB this is the scheduled maintenance "
    "job that keeps scan task counts O(partitions), not O(appends); "
    "swap the full rewrite for per-partition rewrites gated on the "
    "audit's file counts",
)
def c10_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    frag_path = _scratch("c10_frag", sf_dir)
    compact_path = _scratch("c10_compact", sf_dir)
    orders = load_table(spark, sf_dir, "orders")

    # Fragmented layout: 8 writer tasks, each holding rows of (almost
    # surely) every status => ~8 files per partition directory.
    (
        orders.repartition(8, "o_orderkey")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(frag_path)
    )
    audit_before = (
        spark.read.parquet(frag_path)
        .select("o_orderstatus", F.input_file_name().alias("f"))
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("f").alias("n_files_before"))
    )

    # Compaction: cluster by the partition column so each value lands in
    # exactly one writer task => exactly one file per directory.
    (
        spark.read.parquet(frag_path)
        .repartition("o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(compact_path)
    )
    compacted = spark.read.parquet(compact_path)
    audit_after = (
        compacted.select("o_orderstatus", F.input_file_name().alias("f"))
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("f").alias("n_files_after"))
    )
    checks = compacted.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
        .cast("double")
        .alias("sum_price"),
    )
    return (
        audit_before.join(audit_after, "o_orderstatus")
        .join(checks, "o_orderstatus")
        .select(
            "o_orderstatus",
            (F.col("n_files_before") > F.col("n_files_after")).alias(
                "was_fragmented"
            ),
            F.col("n_files_after").cast("int").alias("n_files_after"),
            "n_rows",
            "sum_price",
        )
    )


# --- S19: size-targeted shard sink (maxRecordsPerFile) -----------------------

SHARD_RECORDS = 100  # records per output shard


@register(
    "s19_sharded_corpus_sink",
    # The shard count is deterministic given the writer task layout:
    # coalesce(1) puts all n docs in one task, maxRecordsPerFile splits
    # it into ceil(n/SHARD_RECORDS) files. Checksums prove no loss.
    oracle=f"""
    SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / {SHARD_RECORDS}) AS BIGINT)
             AS n_shards,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(*) <= CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / {SHARD_RECORDS})
                            AS BIGINT) * {SHARD_RECORDS} AS within_capacity
    FROM documents
    """,
    doc=f"S19: bounded-size corpus shards — the writer splits output at "
    f"{SHARD_RECORDS} records per file (spark.sql.files.maxRecordsPerFile), "
    "the knob that keeps training-data shards loader-friendly instead of "
    "one-file-per-task lumps. The audit re-reads the sink, counts real "
    "files via input_file_name, and checksums the payload; at 100 TB "
    "the same option bounds shard size with the natural task "
    "parallelism (the coalesce(1) here just makes the local file count "
    "deterministic for the oracle)",
)
def s19_sharded_corpus_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s19_shards", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    (
        docs.coalesce(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", SHARD_RECORDS)
        .parquet(path)
    )
    back = spark.read.parquet(path).withColumn("f", F.input_file_name())
    return back.agg(
        F.countDistinct("f").alias("n_shards"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (
            F.count("*") <= F.countDistinct("f") * SHARD_RECORDS
        ).alias("within_capacity"),
    )


# --- c12 (ext.): data-skipping stats manifest ---------------------------------

# Sample predicate the skip verdict prices: value >= C12_VCUT.
C12_VCUT = 900.0


@register(
    "c12_skipping_manifest",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_rows,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(COUNT(CASE WHEN value IS NULL THEN 1 END) AS BIGINT)
             AS n_null_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
           CAST(CASE WHEN MAX(value) < {C12_VCUT} THEN 1 ELSE 0 END AS INT)
             AS skip_for_vcut
    FROM events GROUP BY 1
    """,
    doc="c12 (ext.): data-skipping manifest — the per-partition stats "
    "table an Iceberg/Delta manifest carries (row count, column min/max, "
    "null counts), built by physically writing events partitioned by "
    f"day (one file per partition) and reading the layout back, plus the "
    f"skip verdict for a sample predicate (value >= {C12_VCUT}: a "
    "partition whose max is below the cut is provably skippable without "
    "opening its file). k05/s05 prove the ENGINE prunes; c12 is the "
    "CATALOG side — the table the planner consults to skip files at "
    "100 TB, maintained as an incremental agg per appended partition. "
    "Stats are exact min/max/count (no float arithmetic), so the "
    "manifest itself is oracle-checkable",
)
def c12_skipping_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog import load_table as _lt

    path = _scratch("c12_manifest", sf_dir)
    ev = _lt(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    # One writer task per day => one file per partition directory, so the
    # per-partition stats below are also the per-FILE stats.
    (
        ev.repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )
    # Partition-column type inference may surface `day` as DATE; the
    # manifest key is the directory name, pin it to string.
    back = spark.read.parquet(path).withColumn(
        "day", F.date_format("day", "yyyy-MM-dd")
    )
    return back.groupBy("day").agg(
        F.count("*").alias("n_rows"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count(F.when(F.col("value").isNull(), 1))
        .cast("bigint")
        .alias("n_null_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.when(F.max("value") < C12_VCUT, 1).otherwise(0).alias(
            "skip_for_vcut"
        ),
    )


# --- s20 (ext.): RFC-4180 quoted/multiline CSV roundtrip ---------------------


@register(
    "s20_quoted_csv_roundtrip",
    # The oracle constructs the SAME payloads straight from the nation
    # table — no CSV involved — so the checksum pins end-to-end quoting
    # fidelity: what Spark writes-then-reads must equal what SQL builds.
    oracle="""
    WITH p AS (
      SELECT n_nationkey,
             n_name || ',"' || n_name || '"' || chr(10) || 'tail-'
                    || CAST(n_nationkey AS VARCHAR) AS payload
      FROM nation
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT n_nationkey) AS n_keys,
           CAST(SUM(LEN(payload)) AS BIGINT) AS sum_len,
           CAST(SUM(CASE WHEN contains(payload, chr(10))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_multiline,
           CAST(SUM(CAST(('0x' || substr(md5(payload), 1, 8)) AS BIGINT))
                AS BIGINT) AS payload_hash_sum
    FROM p
    """,
    doc="S20 (ext.): RFC-4180 torture roundtrip — payloads containing the "
    "delimiter, embedded double quotes, AND embedded newlines are "
    "written with quote-doubling (escape='\"', not Spark's default "
    "backslash) and read back with multiLine=true; the md5-derived "
    "checksum must equal the oracle's direct construction, proving the "
    "writer+parser preserve every byte. multiLine is the classic "
    "scale trap: quoted-newline files are NOT line-splittable, so at "
    "100 TB this format costs one task per FILE — the operator exists "
    "to certify correctness for ingest, with parquet as the real "
    "at-scale layout (s05)",
)
def s20_quoted_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("s20_quoted_csv", sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    payload = F.concat(
        F.col("n_name"),
        F.lit(',"'),
        F.col("n_name"),
        F.lit('"\ntail-'),
        F.col("n_nationkey").cast("string"),
    )
    (
        nation.select("n_nationkey", payload.alias("payload"))
        .write.mode("overwrite")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    back = (
        spark.read.schema("n_nationkey long, payload string")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("n_nationkey").alias("n_keys"),
        F.sum(F.length("payload")).cast("bigint").alias("sum_len"),
        F.sum(F.when(F.col("payload").contains("\n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_multiline"),
        F.sum(
            F.conv(F.substring(F.md5("payload"), 1, 8), 16, 10).cast("long")
        )
        .cast("bigint")
        .alias("payload_hash_sum"),
    )


# --- s21 (ext.): parquet bloom-filter write -----------------------------------

_S21_PROBE = 1  # point-lookup key the audit prices


@register(
    "s21_bloom_filter_write",
    oracle="""
    SELECT 'l_partkey' AS bloom_col,
           TRUE AS bloom_grows_file,
           TRUE AS roundtrip_equal,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS BIGINT)
             AS n_keys,
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_partkey = 1)
                AS BIGINT) AS probe_rows
    """,
    doc="s21 (ext.): parquet bloom-filter authoring — writes lineitem "
    "with parquet bloom filters (parquet.bloom.filter.enabled write "
    "option) and audits it against a twin write "
    "WITHOUT the filter: same rows back (exact count + distinct-key "
    "checksum), strictly larger file (the serialized bitset is "
    "physically present; pyarrow 16 can't expose bloom offsets, so "
    "size-delta is the honest structural probe), and the point-lookup "
    "row count the filter accelerates. At 100 TB bloom filters are the "
    "point-lookup complement to min/max skipping (c12): high-"
    "cardinality keys defeat zone maps, the bloom still skips "
    "row-groups. Both writes coalesce(1) + sort so the twin files "
    "differ ONLY by the filter bytes",
)
def s21_bloom_filter_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    base = _scratch("s21_nobloom", sf_dir)
    bloom = _scratch("s21_bloom", sf_dir)
    pinned = li.coalesce(1).sortWithinPartitions("l_orderkey", "l_partkey")
    # Dictionary-encoded chunks SKIP bloom filters by design (the
    # dictionary is already an exact membership structure), and this
    # fixture's keys are small enough to stay dictionary-encoded — so
    # both twins pin dictionary off, making the size delta exactly the
    # serialized bitsets. At 100 TB high-cardinality keys blow past the
    # dictionary page limit naturally and get blooms without this pin.
    # (The per-column `...enabled#col` option is additionally a no-op in
    # this Spark build — measured identical twins — hence the table-wide
    # toggle.)
    pinned.write.mode("overwrite").option(
        "parquet.enable.dictionary", "false"
    ).parquet(base)
    (
        pinned.write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.bloom.filter.enabled", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "100000")
        .parquet(bloom)
    )

    def _bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    grew = _bytes(bloom) > _bytes(base)
    back = spark.read.parquet(bloom)
    src = li.agg(
        F.count("*").alias("n"), F.count_distinct("l_partkey").alias("k")
    )
    return (
        back.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count_distinct("l_partkey").cast("bigint").alias("n_keys"),
            F.count_if(F.col("l_partkey") == _S21_PROBE)
            .cast("bigint")
            .alias("probe_rows"),
        )
        .crossJoin(F.broadcast(src))
        .select(
            F.lit("l_partkey").alias("bloom_col"),
            F.lit(grew).alias("bloom_grows_file"),
            (
                (F.col("n_rows") == F.col("n"))
                & (F.col("n_keys") == F.col("k"))
            ).alias("roundtrip_equal"),
            "n_rows",
            "n_keys",
            "probe_rows",
        )
    )


# --- s22 (ext.): compression-codec tuning audit --------------------------------

_S22_CODECS = ("uncompressed", "snappy", "zstd")


@register(
    "s22_compression_codecs",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
           TRUE AS roundtrip_equal_all_codecs,
           TRUE AS snappy_smaller_than_uncompressed,
           TRUE AS zstd_smaller_than_snappy
    FROM events
    """,
    doc="s22 (ext.): parquet compression-codec tuning — the same events "
    "written uncompressed / snappy / zstd (pinned single sorted file "
    "per codec so the twins differ only by codec), audited for "
    "byte-identical roundtrips (exact decimal checksum through every "
    "codec) and the expected size ordering zstd < snappy < "
    "uncompressed. At 100 TB codec choice is a first-order cost lever "
    "(zstd trades ~2x better ratio for CPU; snappy is the "
    "scan-throughput default); this is the audit that justifies the "
    "choice with measurements instead of folklore",
)
def s22_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pinned = ev.coalesce(1).sortWithinPartitions("event_id")
    sizes: dict[str, int] = {}
    backs = []
    for codec in _S22_CODECS:
        path = _scratch(f"s22_{codec}", sf_dir)
        pinned.write.mode("overwrite").option("compression", codec).parquet(
            path
        )
        sizes[codec] = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        backs.append(
            spark.read.parquet(path).agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(27,6)"))
                .cast("double")
                .alias("s"),
            )
        )
    b0, b1, b2 = (
        b.withColumnRenamed("n", f"n{i}").withColumnRenamed("s", f"s{i}")
        for i, b in enumerate(backs)
    )
    return (
        b0.crossJoin(F.broadcast(b1))
        .crossJoin(F.broadcast(b2))
        .select(
            F.col("n0").cast("bigint").alias("n_rows"),
            F.col("s0").alias("sum_value"),
            (
                (F.col("n0") == F.col("n1"))
                & (F.col("n1") == F.col("n2"))
                & (F.col("s0") == F.col("s1"))
                & (F.col("s1") == F.col("s2"))
            ).alias("roundtrip_equal_all_codecs"),
            F.lit(sizes["snappy"] < sizes["uncompressed"]).alias(
                "snappy_smaller_than_uncompressed"
            ),
            F.lit(sizes["zstd"] < sizes["snappy"]).alias(
                "zstd_smaller_than_snappy"
            ),
        )
    )


# --- s23 (ext.): row-group size tuning audit ------------------------------------

_S23_SMALL = 64 * 1024
_S23_LARGE = 128 * 1024 * 1024


@register(
    "s23_rowgroup_tuning",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value,
           TRUE AS small_blocks_at_least_as_granular,
           TRUE AS all_rows_in_groups
    FROM events
    """,
    doc="s23 (ext.): parquet row-group sizing — twin writes at 64 KiB vs "
    "128 MiB parquet.block.size, row-group counts read from the file "
    "footers (pyarrow), auditing that the small-block layout is at "
    "least as granular and both layouts hold every row. Row-group size "
    "is THE skipping granularity at 100 TB: min/max stats (c12) and "
    "bloom filters (s21) prune per row group, so a 64 KiB group skips "
    "finer but pays more footer+seek overhead — this audit is how the "
    "trade is measured before a fleet-wide layout choice",
)
def s23_rowgroup_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.parquet as pq

    ev = load_table(spark, sf_dir, "events")
    pinned = ev.coalesce(1).sortWithinPartitions("event_id")
    stats: dict[int, tuple[int, int]] = {}
    for bs in (_S23_SMALL, _S23_LARGE):
        path = _scratch(f"s23_bs{bs}", sf_dir)
        pinned.write.mode("overwrite").option(
            "parquet.block.size", str(bs)
        ).parquet(path)
        groups = rows = 0
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(path, f)).metadata
                groups += md.num_row_groups
                rows += md.num_rows
        stats[bs] = (groups, rows)
    src = ev.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(27,6)"))
        .cast("double")
        .alias("sum_value"),
    )
    return src.select(
        "n_rows",
        "sum_value",
        F.lit(stats[_S23_SMALL][0] >= stats[_S23_LARGE][0]).alias(
            "small_blocks_at_least_as_granular"
        ),
        (
            F.lit(stats[_S23_SMALL][1]) == F.col("n_rows")
        ).__and__(F.lit(stats[_S23_LARGE][1]) == F.col("n_rows")).alias(
            "all_rows_in_groups"
        ),
    )


# --- s24 (ext.): CSV dialect matrix roundtrip ---------------------------------------

_S24_DIALECTS = [
    ("comma_quote", ",", '"'),
    ("pipe_quote", "|", '"'),
    ("tab_single", "\t", "'"),
]


@register(
    "s24_csv_dialect_matrix",
    # Three write+read roundtrips of the same delimiter-hostile payload
    # under three CSV dialects (separator x quote char); every dialect
    # must reproduce the identical checksum the oracle builds straight
    # from the source table. s20 proves RFC-4180 quoting depth; s24
    # proves dialect OPTIONS fidelity (the ingest reality: every vendor
    # exports a different dialect).
    oracle="""
    WITH p AS (
      SELECT n_nationkey,
             n_name || ',|' || chr(9) || 'x-'
                    || CAST(n_nationkey AS VARCHAR) AS payload
      FROM nation
    ),
    chk AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(LEN(payload)) AS BIGINT) AS sum_len,
             CAST(SUM(CAST(('0x' || substr(md5(payload), 1, 8)) AS BIGINT))
                  AS BIGINT) AS payload_hash_sum
      FROM p
    )
    SELECT d.dialect, c.n_rows, c.sum_len, c.payload_hash_sum
    FROM chk c,
         (VALUES ('comma_quote'), ('pipe_quote'), ('tab_single'))
           AS d(dialect)
    """,
    doc="S24 (ext.): CSV dialect matrix — the same payload (containing "
    "comma, pipe AND tab, so every dialect's separator appears in the "
    "data) written and re-read under three (sep, quote) dialects; all "
    "three roundtrips must hash-match the oracle's direct "
    "construction. The multi-vendor ingest certification on top of "
    "s20's RFC-4180 depth test. Scale: dimension-sized demo by "
    "design — the certified options then apply to any landing "
    "directory; splittability caveats are s20's",
)
def s24_csv_dialect_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    payload = F.concat(
        F.col("n_name"),
        F.lit(",|\tx-"),
        F.col("n_nationkey").cast("string"),
    )
    src = nation.select("n_nationkey", payload.alias("payload"))
    out = None
    for dialect, sep, quote in _S24_DIALECTS:
        path = _scratch(f"s24_{dialect}", sf_dir)
        (
            src.write.mode("overwrite")
            .option("sep", sep)
            .option("quote", quote)
            .option("escape", quote)
            .csv(path)
        )
        back = (
            spark.read.schema("n_nationkey long, payload string")
            .option("sep", sep)
            .option("quote", quote)
            .option("escape", quote)
            .csv(path)
        )
        row = back.agg(
            F.lit(dialect).alias("dialect"),
            F.count("*").alias("n_rows"),
            F.sum(F.length("payload")).cast("bigint").alias("sum_len"),
            F.sum(
                F.conv(F.substring(F.md5("payload"), 1, 8), 16, 10).cast(
                    "long"
                )
            )
            .cast("bigint")
            .alias("payload_hash_sum"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- s25 (ext.): atomic manifest-committed sink (exactly-once on object stores) ---------


@register(
    "s25_manifest_commit_sink",
    # The commit protocol object stores actually need: task files land
    # individually (no atomic directory rename on S3), so a reader that
    # lists the directory can see ORPHANS from failed/retried tasks.
    # The fix is a manifest: the committer writes the authoritative
    # file list LAST, and readers load exactly the manifested files.
    # This op writes orders as shards, PLANTS an orphan shard (a
    # simulated failed-task leftover duplicating real rows), then reads
    # back via the manifest — the checksum equals the source iff the
    # manifest isolation works, and the directory-listing read (also
    # emitted) visibly over-counts. Oracle: the source checksum with
    # the orphan's over-count derived arithmetically.
    oracle="""
    WITH src AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS sp
      FROM orders
    ),
    orphan AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS o_rows,
             SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS osp
      FROM orders WHERE o_orderkey % 100 = 7
    )
    -- sums stay DECIMAL until the one edge cast: the listing side's
    -- total is the exact decimal sum src + orphan (decimal addition is
    -- associative), never a double->decimal round-trip
    SELECT 'manifest' AS read_mode, s.n_rows,
           CAST(s.sp AS DOUBLE) AS sum_price,
           TRUE AS matches_source
    FROM src s
    UNION ALL
    SELECT 'listing', s.n_rows + o.o_rows,
           CAST(s.sp + o.osp AS DOUBLE),
           FALSE
    FROM src s, orphan o
    ORDER BY read_mode
    """,
    doc="s25 (ext.): manifest-committed sink — the exactly-once commit "
    "protocol for object stores, where tasks cannot atomically rename "
    "directories and failed-attempt files linger. Writes orders as "
    "parquet shards, writes the authoritative manifest LAST, plants an "
    "orphan shard (simulated failed-task leftover), then reads BOTH "
    "ways: via the manifest (exactly the committed files — checksum "
    "matches the source) and via naive directory listing (sees the "
    "orphan — visibly over-counts). The same contract Iceberg/Delta "
    "snapshots formalize, built from primitives. At 100 TB manifests "
    "also kill the O(files) listing: readers open one small file. "
    "Exactness: decimal checksums; the orphan's over-count is derived "
    "arithmetically in the oracle (o_orderkey % 100 = 7 rows). "
    "Ref parity: the reference writes directly to S3 with no commit "
    "protocol (src/upload_to_s3.py) — the gap this op closes",
)
def s25_manifest_commit_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    path = _scratch("s25_manifest", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    (
        o.repartition(4)
        .write.mode("overwrite")
        .parquet(os.path.join(path, "data"))
    )
    data_dir = os.path.join(path, "data")
    committed = sorted(
        f for f in os.listdir(data_dir) if f.endswith(".parquet")
    )
    # plant the orphan AFTER the manifest list is taken — a leftover
    # from a failed task attempt that duplicated some rows
    orphan = o.filter(F.col("o_orderkey") % 100 == 7)
    orphan.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "orphan_tmp")
    )
    import shutil

    orphan_part = next(
        f
        for f in os.listdir(os.path.join(path, "orphan_tmp"))
        if f.endswith(".parquet")
    )
    shutil.copyfile(
        os.path.join(path, "orphan_tmp", orphan_part),
        os.path.join(data_dir, "part-orphan-attempt-0.snappy.parquet"),
    )
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        _json.dump({"files": committed}, fh)

    with open(os.path.join(path, "_manifest.json")) as fh:
        manifest = _json.load(fh)["files"]
    via_manifest = spark.read.parquet(
        *[os.path.join(data_dir, f) for f in manifest]
    )
    via_listing = spark.read.parquet(data_dir)

    def checksum(df: DataFrame, mode: str):
        return df.agg(
            F.lit(mode).alias("read_mode"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_price"),
        )

    src_n = o.count()
    man = checksum(via_manifest, "manifest").withColumn(
        "matches_source", F.col("n_rows") == F.lit(src_n)
    )
    lst = checksum(via_listing, "listing").withColumn(
        "matches_source", F.col("n_rows") == F.lit(src_n)
    )
    return man.unionByName(lst).orderBy("read_mode")
