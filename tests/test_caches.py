"""Session-state hygiene: every structure the engine reuses across one
session's queries lives in that session's store (``state``), which must
stay bounded, empty on ``clear`` and vanish with its session."""

from __future__ import annotations

from types import SimpleNamespace

from smart_water_management_spark import registry, state
from smart_water_management_spark.plans import dashboard
from smart_water_management_spark.sources import catalog, io_ops

from .conftest import SF_DIR, assert_oracle_match


def test_clear_evicts_memo_and_pins(spark):
    """``clear`` is the 'rescan fresh layout' hook used before the
    physical-plan assertions: it must drop the memoized analyzed scans
    (or a rewritten table dir keeps serving the stale resolved file
    index) and unpersist every pin, fitted models included."""
    state.memo(spark, ("scan", "/clear-test", "region"),
               lambda: catalog._read_table(spark, SF_DIR, "region"))
    state.memo(spark, ("kmeans", "/clear-test"), lambda: object())
    pinned = catalog.pin_derived(spark, "/clear-test", "p", lambda: spark.range(10))
    state.clear(spark)
    st = state.store(spark)
    assert not st.memo and not st.pins and not st.pin_rdds
    assert pinned.storageLevel.useMemory is False


def test_stopped_session_store_is_dropped():
    """A stopped session's whole store is dropped the next time any
    session uses the module — a stub session stands in so the suite's
    shared session stays up."""
    ctx = SimpleNamespace(_jsc=object(), applicationId="stub-app")
    stub = SimpleNamespace(sparkContext=ctx)
    assert state.memo(stub, "k", lambda: 1) == 1
    assert "stub-app" in state._STORES
    other = SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=object(), applicationId="other-app")
    )
    try:
        state.memo(other, "k", lambda: 2)
        assert "stub-app" in state._STORES  # live: kept
        ctx._jsc = None  # SparkContext.stop() clears _jsc
        state.memo(other, "k", lambda: 3)
        assert "stub-app" not in state._STORES
    finally:
        state._STORES.pop("stub-app", None)
        state._STORES.pop("other-app", None)


def test_memo_is_lru_bounded(spark):
    """One LRU of MEMO_MAX entries per session: a long-lived session
    issuing varied keys must not grow it without limit, and a hit
    refreshes recency."""
    state.clear(spark)
    try:
        for i in range(state.MEMO_MAX + 32):
            state.memo(spark, ("lru-test", i), lambda i=i: i)
            state.memo(spark, ("lru-test", 0), lambda: -1)  # keep 0 hot
        m = state.store(spark).memo
        assert len(m) == state.MEMO_MAX
        assert ("lru-test", 0) in m and m[("lru-test", 0)] == 0
        assert ("lru-test", 1) not in m  # least recently used went first
        assert ("lru-test", state.MEMO_MAX + 31) in m
    finally:
        state.clear(spark)


def test_plan_memo_is_lru_bounded(spark, monkeypatch):
    """The dashboard prepared-statement memo is keyed by raw SQL text; a
    session issuing varied ad-hoc SQL must not grow it without limit."""
    monkeypatch.setattr(state, "MEMO_MAX", 16)
    state.clear(spark)
    try:
        for i in range(state.MEMO_MAX + 8):
            dashboard._sql(
                spark, SF_DIR, f"SELECT {i} AS v", tables=[]
            )
        memo = state.store(spark).memo
        assert len(memo) == state.MEMO_MAX
        # Most-recent entries survive; the earliest were evicted first.
        sqls = {k[2] for k in memo if k[0] == "sql"}
        assert f"SELECT {state.MEMO_MAX + 7} AS v" in sqls
        assert "SELECT 0 AS v" not in sqls
    finally:
        state.clear(spark)


def _pin_bytes(spark, df) -> int:
    rdd_id = state._pin_rdd_id(spark, df)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return next(i.memSize() + i.diskSize() for i in infos if i.id() == rdd_id)


def test_pin_derived_budget_evicts_lru(spark, monkeypatch):
    """VERDICT r11 item 3: derived pins must be bytes-budgeted with LRU
    eviction — a session replaying the full registry pins LSH signatures,
    component tables, band tables and PQ codes, and an unbounded registry
    would be a 100 TB scale risk. Under a 1-byte budget every OLDER pin
    must be evicted (unpersisted + dropped) as soon as a newer
    materialized pin exceeds the budget, while the requested pin itself
    always survives its own call."""
    monkeypatch.setattr(state, "_pin_budget_bytes", lambda spark: 1)
    pins = state.store(spark).pins
    try:
        a = catalog.pin_derived(
            spark, "/budget-test", "pin_a",
            lambda: spark.range(10_000).selectExpr("id", "id * 2 AS v"),
        )
        a.count()  # materialize: pin_a now holds blocks > 1 byte
        key_a = ("derived", "/budget-test", "pin_a")
        assert key_a in pins
        b = catalog.pin_derived(
            spark, "/budget-test", "pin_b",
            lambda: spark.range(10_000).selectExpr("id", "id * 3 AS v"),
        )
        # pin_a (LRU, materialized, over budget) was evicted; pin_b — the
        # pin just requested — is never its own victim.
        assert key_a not in pins
        assert ("derived", "/budget-test", "pin_b") in pins
        assert a.storageLevel.useMemory is False  # really unpersisted
        b.count()
        # a later unrelated pin call now evicts the materialized pin_b too
        catalog.pin_derived(
            spark, "/budget-test", "pin_c", lambda: spark.range(10)
        )
        assert ("derived", "/budget-test", "pin_b") not in pins
    finally:
        state.clear(spark)


def test_pin_budget_meters_only_owned_pins(spark, monkeypatch):
    """The pin budget meters only the cached RDDs the store owns,
    and eviction is blocking, so a resident block the store does not own
    (a localCheckpoint here) cannot make the pins thrash, and one
    over-budget call evicts exactly the LRU pins, each once."""
    state.clear(spark)
    ckpt = spark.range(200_000).selectExpr("id", "id * 5 AS v").localCheckpoint()
    evicted = []
    frame_cls = type(ckpt)  # the concrete (classic) DataFrame class
    real_unpersist = frame_cls.unpersist

    def spy(self, blocking=False):
        evicted.append(self)
        return real_unpersist(self, blocking)

    try:
        built = {}
        for name in ("a", "b", "c"):
            df = catalog.pin_derived(
                spark, "/owned-test", name,
                lambda n=len(name) + ord(name): spark.range(20_000)
                .selectExpr("id", f"id * {n} AS v"),
            )
            df.count()
            built[name] = df
        sizes = {n: _pin_bytes(spark, df) for n, df in built.items()}
        budget = sizes["b"] + sizes["c"]
        foreign = sum(
            i.memSize() + i.diskSize()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ) - sum(sizes.values())
        assert foreign > budget  # the checkpoint alone is over budget
        monkeypatch.setattr(state, "_pin_budget_bytes", lambda spark: budget)
        monkeypatch.setattr(frame_cls, "unpersist", spy)
        catalog.pin_derived(spark, "/owned-test", "d", lambda: spark.range(10))
        monkeypatch.setattr(frame_cls, "unpersist", real_unpersist)
        assert evicted == [built["a"]]
        pins = state.store(spark).pins
        assert {k[2] for k in pins if k[1] == "/owned-test"} == {"b", "c", "d"}
        assert ckpt.count() == 200_000  # untouched by the budget
    finally:
        monkeypatch.setattr(frame_cls, "unpersist", real_unpersist)
        state.clear(spark)


def test_plan_cache_is_lru_bounded(spark, monkeypatch):
    """Analyzed scans are memoized per (session, sf_dir, table); many
    tables/dirs in one long-lived driver must not accumulate analyzed
    plans without limit. Exercises the real load_table population path."""
    state.clear(spark)
    monkeypatch.setattr(state, "MEMO_MAX", 4)
    try:
        for name in ["region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem"]:
            catalog.load_table(spark, SF_DIR, name)
        memo = state.store(spark).memo
        assert len(memo) == 4
        # LRU: the most recently loaded tables survive.
        assert {k[2] for k in memo} == {"part", "orders", "lineitem", "supplier"}
    finally:
        state.clear(spark)


def test_fan_out_guard_without_rdd_at_scale(spark):
    """fan_out must (a) still fan a one-file local scan to the session's
    core count and (b) still no-op on an already-fanned frame."""
    d = catalog.load_table(spark, "/root/testdata/sf0.001", "documents")
    target = spark.sparkContext.defaultParallelism
    fanned = catalog.fan_out(d, spark)
    assert fanned.rdd.getNumPartitions() == target
    assert catalog.fan_out(fanned, spark) is fanned  # no double repartition


def test_q13_rides_prepared_statement_memo(spark):
    """r12 (VERDICT r11 #6): q13 was the one dashboard query outside the
    prepared-statement memo (~87 ms of view re-registration + re-parse
    per call). Repeated invocations must now return the SAME memoized
    DataFrame object, and its analytical view must exist."""
    from smart_water_management_spark.plans.dashboard import q13

    a = q13(spark, "/root/testdata/sf0.001")
    b = q13(spark, "/root/testdata/sf0.001")
    assert a is b
    assert spark.catalog.tableExists("v_district_performance")
    assert a.count() > 0


def test_dir_derived_names_follow_the_dir(spark, tmp_path):
    """Tables and scratch paths built from a data dir (k02's bucketed
    tables, c07's MV, the io_ops sinks, the streams' symlink stages) are
    named by a hash of the dir's realpath: a ``-`` in the dir name is a
    valid identifier, and two dirs with the same base name each get
    their own answer, not whichever dir ran first."""
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    dirs = [tmp_path / "a" / "sf-0.001", tmp_path / "b" / "sf-0.001"]
    for d in dirs:
        d.mkdir(parents=True)
        for t in catalog.TABLES:
            shutil.copyfile(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    for t in ("orders", "lineitem", "events"):
        tbl = pq.read_table(f"{SF_DIR}/{t}.parquet")
        pq.write_table(tbl.slice(0, tbl.num_rows // 2), dirs[1] / f"{t}.parquet")
    try:
        for d in dirs:
            with duckdb.connect() as con:
                for t in catalog.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
                for name in ("k02_bucketed_join", "c07_mv_refresh",
                             "s05_partitioned_sink_prune",
                             "t05_streaming_hourly"):
                    spec = registry._REGISTRY[name]
                    assert_oracle_match(spec.fn(spark, str(d)), con, spec.oracle,
                                        name=f"{name} over {d.parent.name}")
    finally:
        # scratch paths live in the checkout, not under tmp_path
        for d in dirs:
            shutil.rmtree(io_ops._scratch("s05_part", str(d)), ignore_errors=True)


def test_rewritten_table_is_read_again(spark, tmp_path):
    """A table rewritten in place under the same name is read again by
    the session's next query: a02 over a copied dir matches its oracle
    over the new file, not the rows its first run read."""
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    shutil.copytree(SF_DIR, d)
    spec = registry._REGISTRY["a02_daily_rollup"]
    events = pq.read_table(d / "events.parquet")
    for rows in (events, events.slice(0, events.num_rows // 2)):
        pq.write_table(rows, d / "events.parquet")
        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
            assert_oracle_match(spec.fn(spark, str(d)), con, spec.oracle,
                                name=f"a02 over {rows.num_rows} events")


def test_warehouse_removed_at_exit(tmp_path):
    """The per-process warehouse get_session creates is removed when the
    process exits, managed tables included."""
    import os
    import subprocess
    import sys

    code = (
        "import os\n"
        "from smart_water_management_spark.session import get_session\n"
        "from smart_water_management_spark.sources.catalog import warehouse_path\n"
        "spark = get_session('warehouse-exit')\n"
        "spark.range(3).write.saveAsTable('exit_probe')\n"
        "path = warehouse_path(spark)\n"
        "assert os.path.isdir(os.path.join(path, 'exit_probe'))\n"
        "print(path)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "SPARK_GRAFT_CPUS": "1",
           "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    path = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(path).startswith("swm-warehouse-")
    assert not os.path.exists(path)


def test_streaming_replay_drops_its_view(spark, duck):
    """Each bounded replay drains into a uniquely named memory-sink view;
    the returned frame holds the sink itself, so the view is dropped at
    once instead of keeping every replay's result alive for the session."""
    spec = registry._REGISTRY["t05_streaming_hourly"]
    for _ in range(3):
        out = spec.fn(spark, SF_DIR)
    views = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("hourly_preagg_")]
    assert views == []
    assert_oracle_match(out, duck, spec.oracle, name="t05 after its view drop")


def _compiles(spark) -> int:
    """Classes Spark's codegen has compiled so far in this JVM."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


# The eight perfbench `batch` ops: 147 distinct generated classes at
# sf0.001, more than Spark's default codegen cache of 100 holds.
_BATCH_OPS = (
    "j09_asof_join", "v01_fused_validation", "t05_streaming_hourly",
    "f10_pandas_udf_severity", "x90_curation_funnel",
    "s05_partitioned_sink_prune", "c04_scd2_merge", "c07_mv_refresh",
)


def test_codegen_cache_holds_a_repeated_pass(spark):
    """A session that reruns the same jobs compiles each generated class
    once: the codegen cache is sized by ENGINE_CONF above a pass of the
    batch ops, so their second run compiles nothing. At Spark's default
    size every class is evicted before its reuse and the second run
    recompiles about as many as the first."""
    from smart_water_management_spark.session import ENGINE_CONF

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == ENGINE_CONF[key]
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        for name in _BATCH_OPS:
            registry._REGISTRY[name].fn(spark, SF_DIR) \
                .write.format("noop").mode("overwrite").save()
        counts.append(_compiles(spark) - before)
    assert counts[1] == 0, f"compiles per run: {counts}"


def test_equal_stage_bodies_share_a_class(spark):
    """v19 unions one aggregate per pair of rules, and every branch plans
    the same stage body under its own codegen stage id. With the id kept
    out of generated class names (ENGINE_CONF) the branches share their
    classes: 12 compiles at sf0.001, where numbered names compiled 116."""
    from smart_water_management_spark.validation.checks import EVENTS_RULES

    n_pairs = len(EVENTS_RULES) * (len(EVENTS_RULES) - 1) // 2
    before = _compiles(spark)
    registry._REGISTRY["v19_rule_cooccurrence"].fn(spark, SF_DIR) \
        .write.format("noop").mode("overwrite").save()
    compiled = _compiles(spark) - before
    assert compiled < n_pairs, f"{compiled} classes for {n_pairs} equal branches"


def test_query_persists_are_owned_by_the_store(spark):
    """Frames a query persists for reuse go through the session store, so
    ``state.clear`` leaves Spark's cache empty: a persist outside the
    store outlives it, and once materialized its measured size can flip a
    later query's join to broadcast."""
    from smart_water_management_spark.llmdata.components import dedup_corpus

    spark.catalog.clearCache()
    for name in ("a42_kendall_tau", "v19_rule_cooccurrence", "s12_cached_reuse",
                 "x39_incremental_lsh", "x105_triangle_count",
                 "x118_dedup_idempotence", "x29_semdedup"):
        registry._REGISTRY[name].fn(spark, SF_DIR).collect()
    dedup_corpus(catalog.load_table(spark, SF_DIR, "documents")).collect()
    state.clear(spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
