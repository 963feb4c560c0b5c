"""Table catalog over the driver's parquet testdata.

Mirrors the reference's source surface (SURVEY.md §2.1): explicit-schema
scans, partitioned parquet sinks, and view registration so the dashboard
SQL layer (§2.14) can run via ``spark.sql``. Parquet scans get predicate
pushdown + column pruning from Catalyst for free; at 100 TB the same reads
hit hive-partitioned directories and prune on year/month/day.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import state

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def normalize_event_ts(df: DataFrame):
    """Column expression that yields ``ts`` as a session-tz TIMESTAMP
    regardless of the parquet physical type the generator used.

    TIMESTAMP(NANOS) files only reach Spark as epoch-nanos longs (legacy
    flag) and need integer ``div`` back to the microsecond grid (a double
    division would lose precision above 2^53); TIMESTAMP(MICROS) files
    arrive as TIMESTAMP_NTZ and only need the LTZ cast (identity under the
    engine's UTC session timezone) so every downstream query sees one dtype.
    """
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        return df.withColumn("ts", normalize_event_ts(df)).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return spark.read.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one testdata table.

    Parquet carries its own schema; Catalyst prunes columns and pushes
    filters into the scan (equivalent of reference src/spark_etl.py:47-64's
    explicit-schema CSV read, upgraded to a columnar format).

    ``events.ts`` is stored as TIMESTAMP(NANOS), which the Spark parquet
    reader rejects; we read it as epoch-nanos long (legacy flag) and
    convert with integer division (``div`` — a double division would lose
    precision above 2^53) back to a microsecond timestamp. The testdata's
    ts values all sit on the microsecond grid, so this is lossless.
    """
    # The analyzed scan is memoized, not persisted: it reuses the resolved
    # file index and footer schema (~80 ms of driver file listing per table
    # per call) while data still streams through the scan.
    return state.memo(
        spark, ("scan", sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def pin_derived(
    spark: SparkSession, sf_dir: str, name: str, build, storage_level=None
) -> DataFrame:
    """Persist-and-track a derived table (e.g. an exploded n-gram table
    consumed by both sides of a self-join) in the session store, so
    repeated invocations reuse ONE cached copy under the store's pin
    budget rather than pinning a fresh one per sweep."""
    return state.pin(spark, ("derived", sf_dir, name), build, storage_level)


def literal_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small constant table as a JVM-local relation, not a Python RDD.

    ``spark.createDataFrame(list, ...)`` plans as ``Scan ExistingRDD``: a
    Python-RDD-backed scan that re-pickles the rows through Python worker
    tasks on EVERY action consuming it — and parallelize() fans a 10-row
    list into defaultParallelism near-empty tasks, so on local[32] each
    evaluation pays ~32 Python round trips (measured 0.35 s vs 0.04 s
    noop for a 10-row LUT table; optimization guide §4.1: eliminate the
    Python boundary). Routing the same rows through a pandas DataFrame
    ships them to the JVM ONCE as Arrow batches and plans as
    ``LocalTableScan`` — a true LocalRelation with no per-action Python
    work. (An all-literal expression tree was measured as the worse
    alternative: thousands of Literal nodes re-enter analysis on every
    action — x65's 2.5k-double LUT went 1.5 s -> 9.6 s.) Values are
    byte-identical to the createDataFrame result: int64/float64 pandas
    cells round-trip Python ints/floats exactly. Falls back to the row
    path automatically when Arrow conversion is disabled (slower, same
    values). Use for bounded fixture/metadata tables (rules, probe
    grids, LUTs, driver-computed result rows) — not for real data."""
    from pyspark.sql.types import StructType

    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], st)
    import pandas as pd

    pdf = pd.DataFrame.from_records(
        list(rows), columns=[f.name for f in st.fields]
    )
    return spark.createDataFrame(pdf, st)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink (reference src/enhanced_spark_etl.py:777-782).

    Directory partitioning by low-cardinality time columns is what replaces
    the reference warehouse's range partitioning + btree indexes at scale:
    readers prune partitions and use parquet min/max stats.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_compacted_parquet(df: DataFrame, path: str, n_files: int = 1) -> None:
    """Small-file-compaction sink (reference src/spark_etl.py:241)."""
    df.coalesce(n_files).write.mode("overwrite").parquet(path)


def read_csv_with_schema(spark: SparkSession, path: str, schema) -> DataFrame:
    """Header CSV with explicit schema — no inference pass
    (reference src/spark_etl.py:47-64)."""
    return (
        spark.read.option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .schema(schema)
        .csv(path)
    )


def fan_out(df: DataFrame, spark: SparkSession, min_factor: int = 2) -> DataFrame:
    """Repartition a narrow scan up to the session's core count.

    Small parquet files (e.g. the documents table locally) arrive as ONE
    input split, which serializes downstream explode/hash-heavy operators
    on a single core. At 100 TB inputs already carry thousands of splits
    and this is a no-op (the partition count check keeps it shuffle-free).

    The decision reads the frame's exact partition count: the input file
    count is no bound on it, since Spark bin-packs small files into one
    split and splits large ones. ``DataFrame.rdd`` is cached on the frame,
    and ``load_table`` returns one memoized frame per (session, table), so
    the plan-to-RDD conversion runs once per table per session.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * min_factor <= target:
        return df.repartition(target)
    return df


def dir_tag(sf_dir: str) -> str:
    """Name fragment for tables and scratch paths derived from a data dir:
    a short hex hash of its realpath. Two dirs with the same base name
    never share a derived object, and any dir name yields a valid
    identifier."""
    return hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:12]


def warehouse_path(spark: SparkSession) -> str:
    """Local filesystem path of the session warehouse dir (managed tables).

    Local-mode only: strips the file: scheme. A remote warehouse
    (hdfs://, s3a://) needs the Hadoop FileSystem API instead — callers
    of reset_managed_table rebuild per-run scratch tables, a local-mode
    concern by construction.
    """
    raw = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return raw.removeprefix("file://").removeprefix("file:")


def reset_managed_table(spark: SparkSession, name: str) -> None:
    """Drop a managed table AND its location.

    An interrupted earlier session can leave the data directory behind
    without its catalog entry, in which case a later saveAsTable fails
    with LOCATION_ALREADY_EXISTS — so the directory is removed even when
    the catalog has never heard of the table.
    """
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(os.path.join(warehouse_path(spark), name), ignore_errors=True)
