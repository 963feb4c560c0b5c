"""Unit tests for the domain pipeline (plans.pipeline), SCD2 merge
integrity (plans.scd), and the ingestion-resilience library
(streaming.ingest) — the parts whose correctness isn't fully captured
by a SQL oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smart_water_management_spark.plans.pipeline import (
    daily_rollup,
    enrich,
    generate_readings,
)
from smart_water_management_spark.plans.scd import c04_scd2_merge
from smart_water_management_spark.streaming.ingest import (
    CircuitBreaker,
    CircuitOpenError,
    RateLimiter,
    SourceHealth,
    resilient_call,
)

from .conftest import SF_DIR


# --- domain pipeline (reference src/data_generator.py invariants) -----------


def test_generator_shape(spark):
    r = generate_readings(spark)
    assert r.count() == 14_400  # 20 sensors × 30 d × 24 h
    assert r.select("sensor_id").distinct().count() == 20
    assert r.select("district").distinct().count() == 5
    assert r.select("sensor_type").distinct().count() == 4


def test_generator_value_domains(spark):
    r = generate_readings(spark)
    bad = r.filter(
        ((F.col("sensor_type") == "quality") & ~F.col("value").between(6.0, 9.0))
        | ((F.col("sensor_type") == "temperature") & ~F.col("value").between(2.0, 25.0))
        | ((F.col("sensor_type") == "pressure") & (F.col("value") < 10.0))
        | ((F.col("sensor_type") == "flow") & (F.col("value") < 0.0))
        | ~F.col("quality_score").between(0.7, 1.0)
    )
    assert bad.count() == 0


def test_generator_determinism(spark):
    a = generate_readings(spark).agg(
        F.sum(F.col("value").cast("decimal(27,6)")).alias("s")
    ).collect()[0]["s"]
    b = generate_readings(spark).repartition(16).agg(
        F.sum(F.col("value").cast("decimal(27,6)")).alias("s")
    ).collect()[0]["s"]
    assert a == b  # partitioning-independent fixture


def test_pipeline_rollup_invariants(spark):
    rows = daily_rollup(enrich(generate_readings(spark))).collect()
    assert len(rows) == 600  # 5 districts × 4 types × 30 days
    total = sum(r["n_readings"] for r in rows)
    anomalies = sum(r["n_anomalies"] for r in rows)
    assert total == 14_400
    # 5% injection rate (reference src/data_generator.py:75), hash-seeded
    assert 0.03 < anomalies / total < 0.07


def test_diurnal_flow_pattern(spark):
    """Peak-hour flow must exceed night flow (×1.5 vs ×0.3 base)."""
    r = generate_readings(spark).filter(F.col("sensor_type") == "flow")
    hr = F.hour("ts")
    peak = r.filter(hr.between(6, 9)).agg(F.avg("value")).collect()[0][0]
    night = r.filter((hr >= 22) | (hr <= 5)).agg(F.avg("value")).collect()[0][0]
    assert peak > 3 * night


# --- SCD2 integrity ---------------------------------------------------------


def test_scd2_integrity(spark):
    dim = c04_scd2_merge(spark, SF_DIR).cache()
    # exactly one current row per key
    over = (
        dim.filter("is_current")
        .groupBy("c_custkey")
        .count()
        .filter("count > 1")
        .count()
    )
    assert over == 0
    # every non-current row is closed out
    assert dim.filter(~F.col("is_current") & F.col("end_date").isNull()).count() == 0
    # every current row is open-ended
    assert dim.filter(F.col("is_current") & F.col("end_date").isNotNull()).count() == 0
    # changed keys (custkey % 10 == 0) carry exactly 2 versions
    versions = (
        dim.filter(F.col("c_custkey") % 10 == 0)
        .groupBy("c_custkey")
        .count()
        .agg(F.min("count"), F.max("count"))
        .collect()[0]
    )
    assert versions[0] == 2 and versions[1] == 2
    dim.unpersist()


# --- circuit breaker / rate limiter (driver-side, no Spark) -----------------


class _FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def _boom():
    raise ValueError("api down")


def test_breaker_opens_after_threshold():
    clock = _FakeClock()
    cb = CircuitBreaker(failure_threshold=3, recovery_seconds=300, clock=clock)
    for _ in range(3):
        with pytest.raises(ValueError):
            cb.call(_boom)
    assert cb.state == "OPEN"
    with pytest.raises(CircuitOpenError):
        cb.call(lambda: "ok")  # refused without invoking


def test_breaker_half_open_recovery():
    clock = _FakeClock()
    cb = CircuitBreaker(failure_threshold=1, recovery_seconds=300, clock=clock)
    with pytest.raises(ValueError):
        cb.call(_boom)
    assert cb.state == "OPEN"
    clock.t = 301.0
    assert cb.call(lambda: "ok") == "ok"  # HALF_OPEN trial succeeds
    assert cb.state == "CLOSED" and cb.failure_count == 0


def test_breaker_half_open_refailure_reopens():
    clock = _FakeClock()
    cb = CircuitBreaker(failure_threshold=1, recovery_seconds=300, clock=clock)
    with pytest.raises(ValueError):
        cb.call(_boom)
    clock.t = 301.0
    with pytest.raises(ValueError):
        cb.call(_boom)  # trial fails
    assert cb.state == "OPEN" and cb.opened_at == 301.0


def test_rate_limiter_spacing():
    clock = _FakeClock()
    slept = []
    rl = RateLimiter(
        min_interval_seconds=10, clock=clock, sleeper=lambda s: slept.append(s)
    )
    assert rl.wait() == 0.0  # first call free
    clock.t = 4.0
    assert rl.wait() == 6.0  # forced to the 10s grid
    assert slept == [6.0]


def test_resilient_call_health():
    clock = _FakeClock()
    cb = CircuitBreaker(failure_threshold=1, recovery_seconds=300, clock=clock)
    h = SourceHealth("api")
    assert resilient_call(cb, None, h, lambda: 42) == 42
    with pytest.raises(ValueError):
        resilient_call(cb, None, h, _boom)
    # circuit now OPEN: refused tick returns None and is tallied
    assert resilient_call(cb, None, h, lambda: 42) is None
    assert (h.n_success, h.n_failure, h.n_refused) == (1, 1, 1)
    assert h.success_rate == 0.5


# --- PCA (M8) ---------------------------------------------------------------


def test_pca_explained_variance(spark):
    from smart_water_management_spark.ml.analytics import m05_pca_embeddings

    rows = m05_pca_embeddings(spark, SF_DIR).collect()
    ev = [r.explained_variance for r in rows]
    assert len(ev) == 8
    # variance ratios: sorted descending, in (0,1], summing below 1
    assert all(0 < v <= 1 for v in ev)
    assert ev == sorted(ev, reverse=True)
    assert sum(ev) <= 1.0 + 1e-6


# --- streaming SCD2 ≡ batch SCD2 --------------------------------------------


def test_streaming_scd2_equals_batch(spark):
    from smart_water_management_spark.plans.scd import t11_streaming_scd2

    batch = {
        (r.c_custkey, r.c_mktsegment, r.c_acctbal, r.effective_date, r.end_date, r.is_current)
        for r in c04_scd2_merge(spark, SF_DIR).collect()
    }
    streamed = {
        (r.c_custkey, r.c_mktsegment, r.c_acctbal, r.effective_date, r.end_date, r.is_current)
        for r in t11_streaming_scd2(spark, SF_DIR).collect()
    }
    assert streamed == batch


# --- scale soak (opt-in: SWM_SOAK=1) ----------------------------------------


@pytest.mark.skipif(
    __import__("os").environ.get("SWM_SOAK") != "1",
    reason="scale soak is opt-in (SWM_SOAK=1); ~15s of generator work",
)
def test_pipeline_scale_soak(spark):
    """The same lazy plan at 60x the fixture volume: 1,825 days = 876k
    readings through generate -> enrich (windows) -> rollup, in BOTH
    draw modes (md5 = oracle-reproducible, xxhash64 = pure-ingest
    throughput). Guards against accidental driver loops / collects
    creeping into the pipeline — those scale linearly in wall time,
    this must not."""
    import time

    for mode in ("md5", "xxhash64"):
        t0 = time.monotonic()
        rollup = daily_rollup(
            enrich(generate_readings(spark, n_days=1825, draws=mode))
        )
        assert rollup.count() == 5 * 4 * 1825, mode
        assert time.monotonic() - t0 < 60, mode


def test_object_store_csv_roundtrip(spark, tmp_path):
    """S3/S7: the object-store connector functions run against file:// —
    the same Hadoop FileSystem code path as s3a://, differing only in the
    scheme the cluster conf binds (no object store in CI). Distributed
    write with hive-style partition dirs, distributed schema'd read."""
    from pyspark.sql import functions as F

    from smart_water_management_spark.sources.catalog import load_table
    from smart_water_management_spark.sources.external import (
        read_object_store_csv,
        write_object_store_partitioned,
    )

    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    dest = f"file://{tmp_path}/gold"
    write_object_store_partitioned(orders, dest, ["o_year"], fmt="csv", header=True)
    import os

    years = {d for d in os.listdir(f"{tmp_path}/gold") if d.startswith("o_year=")}
    assert len(years) >= 2  # hive-style partition directories materialized

    back = read_object_store_csv(spark, dest, header=True, inferSchema=True)
    assert back.count() == orders.count()
    assert {"o_orderkey", "o_year"} <= set(back.columns)


def test_jdbc_warehouse_roundtrip_embedded_derby(spark, tmp_path):
    """S8/S9: the JDBC connector pair round-trips through an embedded
    Apache Derby database (ships in Spark's jars/ — the deepest reachable
    boundary with no database server in CI; a real warehouse swaps the
    URL/driver). Covers: sink append, full read, partitioned parallel
    read (bounds query + numPartitions), and pushed predicate.
    Reference behavior: src/warehouse_loader.py:250-292 (SQLAlchemy row
    batches), src/app.py:26-45 (pd.read_sql per dashboard call)."""
    from smart_water_management_spark.sources.catalog import load_table
    from smart_water_management_spark.sources.external import (
        read_warehouse_table,
        write_warehouse_table,
    )

    url = f"jdbc:derby:{tmp_path}/warehouse;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    dim = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )

    # explicit VARCHAR DDL: Derby's default string mapping is CLOB, which
    # forbids equality predicates — a real warehouse table types its columns
    write_warehouse_table(
        dim, url, "dim_customer", mode="overwrite",
        createTableColumnTypes="c_name VARCHAR(64), c_mktsegment VARCHAR(16)",
        **props,
    )
    # append path: a second batch lands alongside the first
    extra = dim.limit(10)
    write_warehouse_table(extra, url, "dim_customer", mode="append", **props)

    back = read_warehouse_table(spark, url, "dim_customer", **props)
    assert back.count() == dim.count() + 10
    assert set(back.columns) == set(dim.columns)

    # partitioned parallel read: bounds are fetched, 4 concurrent cursors
    part = read_warehouse_table(
        spark, url, "dim_customer",
        partition_column="c_custkey", num_partitions=4, **props,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == back.count()

    # pushed predicate: WHERE runs in the database, not post-scan
    seg = read_warehouse_table(
        spark, url, "dim_customer",
        predicate="\"c_mktsegment\" = 'BUILDING'", **props,
    )
    seg_rows = seg.count()
    assert 0 < seg_rows < back.count()
    assert seg.filter("c_mktsegment <> 'BUILDING'").count() == 0


def test_dynamic_partition_overwrite_touches_only_written_partition(spark, tmp_path):
    """The claim behind s13: a dynamic-mode overwrite must leave the data
    files of partitions absent from the written batch physically intact
    (same files, same mtimes) — static mode would truncate the table."""
    import os

    from pyspark.sql import functions as F

    from smart_water_management_spark.sources.catalog import load_table

    path = str(tmp_path / "orders_part")
    orders = load_table(spark, SF_DIR, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    def snapshot(status):
        d = os.path.join(path, f"o_orderstatus={status}")
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    before_o, before_p = snapshot("O"), snapshot("P")
    corrected = orders.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.9
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    assert snapshot("O") == before_o and snapshot("P") == before_p
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # the F partition really was replaced with corrected prices
    f_sum = back.filter("o_orderstatus = 'F'").agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
    ).collect()[0][0]
    orig_f = orders.filter("o_orderstatus = 'F'").agg(
        F.sum((F.col("o_totalprice") * 0.9).cast("decimal(27,6)"))
    ).collect()[0][0]
    assert f_sum == orig_f


def test_jdbc_identifier_quote_styles():
    """Quote style follows the JDBC dialect; table quoting stays opt-in
    because Spark's JDBC writer leaves table names unquoted (Derby
    case-normalizes them, so a quoted lookup would miss)."""
    from smart_water_management_spark.sources.external import (
        _quote_ident,
        _quotes_for,
    )

    assert _quotes_for("jdbc:mysql://h/db", None) == ("`", "`")
    assert _quotes_for("jdbc:mariadb://h/db", None) == ("`", "`")
    assert _quotes_for("jdbc:sqlserver://h;db", None) == ("[", "]")
    assert _quotes_for("jdbc:derby:memory:x", None) == ('"', '"')
    assert _quotes_for("jdbc:postgresql://h/db", None) == ('"', '"')
    assert _quotes_for("jdbc:mysql://h/db", '"') == ('"', '"')  # override wins
    assert _quotes_for("jdbc:derby:memory:x", "[") == ("[", "]")

    assert _quote_ident("reading_ts", ('"', '"')) == '"reading_ts"'
    assert _quote_ident("dbo.facts", ("[", "]")) == "[dbo].[facts]"
    assert _quote_ident("sch.tbl", ("`", "`")) == "`sch`.`tbl`"
    # already-quoted / subquery shapes pass through untouched
    assert _quote_ident('"Quoted"', ('"', '"')) == '"Quoted"'
    assert _quote_ident("(SELECT 1) t", ('"', '"')) == "(SELECT 1) t"


def test_surrogate_key_dense_unique_and_partitioning_invariant(spark):
    """plans.star_schema.surrogate_key: dense 1..N, unique, and a pure
    function of the natural key — the same assignment under a different
    physical partitioning (the property a global row_number gets from a
    single-partition sort, achieved here with the bucketed two-phase
    rank that never single-partitions the dim)."""
    from pyspark.sql import functions as F

    from smart_water_management_spark.plans.star_schema import surrogate_key

    df = spark.range(1, 1001).select(F.col("id").alias("nat"))
    a = {r.nat: r._sk for r in surrogate_key(df, "nat").collect()}
    assert len(a) == 1000
    assert sorted(a.values()) == list(range(1, 1001))  # dense + unique
    b = {
        r.nat: r._sk
        for r in surrogate_key(df.repartition(13), "nat").collect()
    }
    assert a == b  # partitioning-independent assignment
