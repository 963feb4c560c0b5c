"""SparkSession factory with the engine's default configuration.

The defaults reproduce the reference's proven Spark tuning
(reference: src/enhanced_spark_etl.py:40-54 — AQE, partition coalescing,
skew-join handling, Kryo, Arrow, UTC session timezone) and add
local-friendly shuffle sizing. On a real cluster the same config block
applies; only master/memory sizing changes.

Scale posture (100 TB): AQE handles runtime partition coalescing and skew
splitting; ``spark.sql.shuffle.partitions`` here is a local-mode ceiling —
at cluster scale set it to ~2-3× total cores or rely on AQE's initial
partition num.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-planning, partition coalescing, skew joins
    # (reference src/enhanced_spark_etl.py:42-46 keeps all three on).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    # Kryo + Arrow (reference :47,:49)
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps for oracle comparison (reference :50 uses UTC).
    "spark.sql.session.timeZone": "UTC",
    # Compiled-class cache (an LRU keyed on the generated source). Spark's
    # default of 100 is below one pass of the engine's repeated jobs: the
    # perfbench `batch` ops generate 133-147 classes per pass and
    # `dashboard` 118, so most were evicted before their reuse and each
    # warm `batch` pass recompiled 119-144 of them (and the JIT then
    # compiled the fresh classes again). First calls of the whole registry
    # compile 6,399 classes at sf0.1; holding 6,803 raised metaspace from
    # 262 to 315 MB, so 1024 entries cost about 8 MB. Static conf, read
    # once per JVM: it applies only to sessions get_session creates, not
    # to one built elsewhere first.
    "spark.sql.codegen.cache.maxEntries": "1024",
    # The cache matches source text, and a whole-stage class is named
    # after its codegen stage id, which under AQE depends on the order the
    # query's stages were planned. With the id in the name, 57 queries at
    # sf0.1 compiled again on their second call (531 classes; 21 and 60
    # without it), and v19_rule_cooccurrence compiled 115 classes for 12
    # distinct stage bodies. Plans and `explain` keep the ids.
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_session(app_name: str = "smart-water-management-spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Honors SPARK_GRAFT_CPUS for local parallelism (driver contract).
    """
    import tempfile

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Per-process warehouse: managed scratch tables (streaming state,
    # bucketed join layouts, CBO stats tables) live under a pid-unique
    # dir, so a concurrent replay/pytest/bench process can never clobber
    # another's state mid-query, and the dir is removed when the process
    # exits. Only applies at session creation; a session created
    # elsewhere first keeps its own warehouse untouched.
    warehouse = os.path.join(tempfile.gettempdir(), f"swm-warehouse-{os.getpid()}")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(8, int(cpus))))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from .sources.catalog import warehouse_path

    if warehouse_path(spark) == warehouse:
        _remove_at_exit(warehouse)
    return spark


@functools.cache
def _remove_at_exit(path: str) -> None:
    atexit.register(shutil.rmtree, path, ignore_errors=True)
