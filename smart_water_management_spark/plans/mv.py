"""Materialized-view maintenance (SURVEY.md §2.13 C7 / §2.11 T11).

PostgreSQL gives the reference `REFRESH MATERIALIZED VIEW`
(`sql/enhanced_data_schema.sql:594-600`); Spark has no native MV, so the
engine maintains gold tables by job: a full rewrite for small aggregates
and an INCREMENTAL partition-overwrite for time-partitioned rollups — at
100 TB only the partitions whose source data changed are recomputed
(dynamic partition overwrite), which is the honest Spark equivalent of an
incremental MV refresh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import dir_tag, load_table

_DEC = "decimal(27,6)"


def _daily_rollup(ev: DataFrame) -> DataFrame:
    return (
        ev.withColumn("day", F.dayofmonth("ts"))
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        )
    )


def refresh_mv(
    spark: SparkSession,
    source: DataFrame,
    mv_name: str,
    changed_days: list[int] | None = None,
) -> DataFrame:
    """Create or refresh the daily-rollup MV table.

    ``changed_days=None`` → full rewrite (initial build). Otherwise only
    the named day-partitions are overwritten (dynamic partition overwrite:
    the write replaces exactly the partitions present in the batch,
    leaving all others untouched — the incremental path).
    """
    from ..sources.catalog import reset_managed_table

    rollup = _daily_rollup(source)
    if changed_days is None or not spark.catalog.tableExists(mv_name):
        reset_managed_table(spark, mv_name)
        (
            rollup.write.partitionBy("day")
            .mode("overwrite")
            .saveAsTable(mv_name)
        )
    else:
        # insertInto uses the table's declared partitioning; with dynamic
        # overwrite mode only the day-partitions present in this batch are
        # replaced. Column order must match the table (data cols, then day).
        # The conf is session-global, so restore it — leaving it 'dynamic'
        # would silently change every later static partitioned overwrite.
        # insertInto ignores the writer's partitionOverwriteMode option.
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                rollup.filter(F.col("day").isin(changed_days))
                .select("event_type", "n_events", "total_value", "day")
                .write.insertInto(mv_name, overwrite=True)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return spark.table(mv_name)


@register(
    "c07_mv_refresh",
    oracle="""
    SELECT EXTRACT(day FROM ts) AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="C7/T11: materialized-view build + incremental partition refresh — "
    "after overwriting two changed day-partitions, the table still equals "
    "the full aggregate (reference sql/enhanced_data_schema.sql:594-600)",
)
def c07_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mv = f"mv_daily_rollup_{dir_tag(sf_dir)}"
    refresh_mv(spark, ev, mv, changed_days=None)  # initial full build
    # incremental refresh of two partitions; source unchanged, so the MV
    # must still equal the full-query oracle — proves the overwrite is
    # exactly partition-scoped
    refresh_mv(spark, ev, mv, changed_days=[1, 2])
    out = spark.table(mv)
    return out.select(
        F.col("day").cast("long").alias("day"),
        "event_type",
        "n_events",
        "total_value",
    )
