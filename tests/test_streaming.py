"""Structured Streaming behavior: replay parity with batch twins, session
windows, watermark late-data handling, foreachBatch upsert (T10)."""

from __future__ import annotations

import tempfile
import time

import pytest
from pyspark.sql import functions as F

from smart_water_management_spark.streaming import jobs
from smart_water_management_spark.streaming.batch_windows import (
    t01_tumbling_hourly,
    t03_sessionization,
)

from .conftest import SF_DIR, assert_oracle_match


def test_streaming_hourly_equals_batch(spark):
    stream_result = jobs.t05_streaming_hourly(spark, SF_DIR)
    batch_result = t01_tumbling_hourly(spark, SF_DIR).drop("n_users")
    s = {tuple(r) for r in stream_result.collect()}
    b = {tuple(r) for r in batch_result.collect()}
    assert s == b


def test_streaming_sessions_subset_of_batch(spark):
    stream_sessions = jobs.t06_streaming_session_windows(spark, SF_DIR)
    batch_sessions = t03_sessionization(spark, SF_DIR)
    s = {(r.user_id, r.session_start) for r in stream_sessions.collect()}
    b_rows = batch_sessions.collect()
    b = {(r.user_id, r.session_start) for r in b_rows}
    # append mode only emits sessions already expired by the 24h watermark:
    # emitted ⊆ batch, and every batch session that ended >24h+gap before
    # the stream's max event time must have been emitted.
    assert s.issubset(b)
    max_end = max(r.session_end for r in b_rows)
    import datetime

    cutoff = (
        datetime.datetime.strptime(max_end, "%Y-%m-%d %H:%M:%S")
        - datetime.timedelta(hours=24, minutes=31)
    ).strftime("%Y-%m-%d %H:%M:%S")
    must_emit = {
        (r.user_id, r.session_start) for r in b_rows if r.session_end < cutoff
    }
    assert must_emit.issubset(s)


def test_watermark_bounds_state(spark):
    """The watermark's actual contract at scale: state for closed windows is
    EVICTED (bounded state), and each in-order window is emitted exactly
    once in append mode. (Empirically, Spark 4.1 streaming aggregation does
    NOT drop late input rows pre-aggregation — `numRowsDroppedByWatermark`
    stays 0 and a late row's expired window re-emits on eviction — so the
    engine handles lateness explicitly via `late_event_split`, tested
    below, mirroring the reference's flag-don't-drop T5 semantics.)"""
    import os

    with tempfile.TemporaryDirectory() as src, tempfile.TemporaryDirectory() as ckpt:
        schema = "ts timestamp, k string, v double"
        batches = [
            [("2024-01-01 10:00:00", "a", 1.0), ("2024-01-01 12:30:00", "a", 1.0)],
            [("2024-01-01 13:30:00", "a", 1.0)],
            [("2024-01-01 15:00:00", "a", 1.0)],
        ]
        for i, rows_ in enumerate(batches):
            # one part-file per batch, distinct mtimes → deterministic
            # oldest-first pickup with maxFilesPerTrigger=1
            spark.createDataFrame(rows_, "ts string, k string, v double").select(
                F.col("ts").cast("timestamp"), "k", "v"
            ).coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
            time.sleep(1.1)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "k")
            .agg(F.sum("v").alias("total"))
            .select(
                F.date_format("window.start", "HH:mm").alias("w"), "k", "total"
            )
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("late_test")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = [(r.w, r.total) for r in spark.table("late_test").collect()]
        # exactly-once per closed window, correct totals
        assert sorted(emitted) == [("10:00", 1.0), ("12:00", 1.0), ("13:00", 1.0)]
        # bounded state: final watermark 14:00 (15:00 - 1h) evicted every
        # closed window; only the open 15:00 window may remain in state
        final_state = q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"]
        assert final_state == 1


def test_late_event_split(spark):
    """Engine-level late-data handling (T5): `late_event_split` maintains a
    high-water mark across micro-batches and routes events older than
    (hwm - tolerance) to a quarantine instead of the aggregate — the
    deterministic version of the reference's staleness flagging
    (src/data_validator.py:418-429), which flags but never drops."""
    import os

    from smart_water_management_spark.streaming.jobs import late_event_split

    with tempfile.TemporaryDirectory() as src:
        batches = [
            [("2024-01-01 10:00:00", "a", 1.0), ("2024-01-01 12:30:00", "a", 1.0)],
            # 10:15 is > 1h behind the high-water mark (12:30) → quarantined;
            # 12:00 is within tolerance → on-time
            [("2024-01-01 10:15:00", "a", 100.0), ("2024-01-01 12:00:00", "a", 2.0)],
        ]
        for i, rows_ in enumerate(batches):
            spark.createDataFrame(rows_, "ts string, k string, v double").select(
                F.col("ts").cast("timestamp"), "k", "v"
            ).coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
            time.sleep(1.1)
        stream = (
            spark.readStream.schema("ts timestamp, k string, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        on_time, late = late_event_split(spark, stream, tolerance_seconds=3600)
        assert sorted(r.v for r in on_time.collect()) == [1.0, 1.0, 2.0]
        assert [r.v for r in late.collect()] == [100.0]


def test_foreachbatch_status_upsert(spark):
    status = jobs.sensor_status_upsert_stream(spark, SF_DIR)
    rows = {r.user_id: r for r in status.collect()}
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    expected = {
        r.user_id: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        )
        .collect()
    }
    assert set(rows) == set(expected)
    for uid, exp in expected.items():
        assert rows[uid].n_events == exp.n_events
        assert rows[uid].n_errors == exp.n_errors


def test_checkpoint_recovery_exactly_once(spark):
    """Exactly-once across restarts: drain part of the source, terminate,
    add more files, RESTART with the same checkpoint — the source offsets
    in the checkpoint must skip already-processed files, so the upserted
    totals equal the batch aggregate with no double counting."""
    import os

    with tempfile.TemporaryDirectory() as root:
        src = os.path.join(root, "src")
        ckpt = os.path.join(root, "ckpt")
        os.makedirs(src)
        all_rows = [
            ("2024-01-01 10:00:00", 1, 1.0),
            ("2024-01-01 10:05:00", 1, 2.0),
            ("2024-01-01 10:10:00", 2, 3.0),
            ("2024-01-01 10:15:00", 1, 4.0),
            ("2024-01-01 10:20:00", 2, 5.0),
        ]

        def write_file(rows, name):
            spark.createDataFrame(
                rows, "ts string, k long, v double"
            ).select(F.col("ts").cast("timestamp"), "k", "v").coalesce(
                1
            ).write.parquet(os.path.join(src, name))

        totals: dict[int, float] = {}
        applied_batches: list[int] = []

        def upsert(batch_df, batch_id):
            applied_batches.append(batch_id)
            for r in batch_df.groupBy("k").agg(F.sum("v").alias("s")).collect():
                totals[r.k] = totals.get(r.k, 0.0) + r.s

        def drain():
            stream = spark.readStream.schema("ts timestamp, k long, v double").parquet(
                src + "/*"
            )
            q = (
                stream.writeStream.foreachBatch(upsert)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # run 1: only the first two files exist
        write_file(all_rows[:2], "f0")
        write_file(all_rows[2:3], "f1")
        drain()
        totals_after_run1 = dict(totals)
        # run 2: two more files arrive; SAME checkpoint → only new files
        write_file(all_rows[3:4], "f2")
        write_file(all_rows[4:], "f3")
        drain()

        assert totals_after_run1 == {1: 3.0, 2: 3.0}
        assert totals == {1: 7.0, 2: 8.0}  # == full batch sum, no recount
        assert len(applied_batches) == len(set(applied_batches))


def test_polling_source_end_to_end(spark):
    """S10/T1: the REST polling source runs as a REAL streaming query.
    The API call is an injected callable (no network), exactly how the
    connector is deployed — so this exercises everything except HTTP:
    per-tick fetch under the breaker, lineage stamping, bronze append,
    and survival of a transient fetch failure (the reference's poller
    logs-and-continues, src/enhanced_ingestion.py:270-276)."""
    import shutil

    from smart_water_management_spark.sources.external import polling_source
    from smart_water_management_spark.streaming.ingest import CircuitBreaker

    calls = {"n": 0}

    def fetch():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient API failure")
        return [
            {"sensor_id": f"S{calls['n']:03d}", "value": float(calls["n"])},
            {"sensor_id": f"T{calls['n']:03d}", "value": -float(calls["n"])},
        ]

    sink = tempfile.mkdtemp(prefix="poll_sink_")
    ck = tempfile.mkdtemp(prefix="poll_ck_")
    shutil.rmtree(sink)  # the connector creates it on first append
    breaker = CircuitBreaker()
    q = polling_source(
        spark,
        fetch,
        "sensor_id string, value double",
        sink,
        ck,
        poll_seconds=1,
        breaker=breaker,
    )
    try:
        deadline = time.time() + 90
        n_rows = 0
        while time.time() < deadline:
            assert q.isActive, q.exception()  # the failed tick must not kill it
            if calls["n"] >= 3:
                try:
                    n_rows = spark.read.parquet(sink).count()
                except Exception:
                    n_rows = 0  # sink not created yet
                if n_rows >= 4:
                    break
            time.sleep(0.5)
    finally:
        q.stop()

    out = spark.read.parquet(sink)
    rows = out.collect()
    assert len(rows) >= 4  # ≥2 successful polls × 2 rows
    # lineage stamp (T4) applied inside the micro-batch
    assert {"batch_id", "pipeline_version", "ingestion_timestamp"} <= set(out.columns)
    assert len({r.batch_id for r in rows}) >= 2  # distinct ticks, distinct ids
    assert all(r.pipeline_version == "2.0" for r in rows)
    # breaker saw the failure, then recovered on the next success
    assert calls["n"] >= 3
    assert breaker.state == "CLOSED" and breaker.failure_count == 0


def test_t13_stateful_api_gate(spark):
    """t13 prefers the Spark 4 transformWithStateInPandas API and falls
    back to applyInPandasWithState when protobuf (the TWS state-server
    wire protocol) is absent — this sandbox ships none, so the gate must
    report False and the fallback stream must carry the same schema."""
    from smart_water_management_spark.streaming import jobs

    if jobs.tws_available():
        pytest.skip("protobuf present: TWS path exercised via t13 itself")
    df = jobs.value_profile_stream(spark, SF_DIR, api="fallback")
    assert df.isStreaming
    assert (
        df.schema.simpleString()
        == "struct<user_id:bigint,n_events:bigint,sum_micro:bigint,max_value:double>"
    )


def test_streaming_kmv_multi_batch_merge_equals_direct(spark):
    """t14's exact-merge claim under REAL incrementality: split events
    into 4 parquet files (maxFilesPerTrigger=1 => 4 micro-batches, so the
    foreachBatch merge genuinely re-merges partial sketches) and check
    the final state equals the direct single-pass k-min computation."""
    import hashlib
    import os

    from smart_water_management_spark.operators.aggregations import (
        _KMV_HEX,
        KMV_K,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        out = {
            r.event_type: (r.n_in_sketch, r.kth_min_hash, r.est_distinct)
            for r in jobs.t14_streaming_kmv_sketch(spark, sf_dir).collect()
        }
    rows = ev.select("event_type", "user_id").distinct().collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, set()).add(r.user_id)
    assert set(out) == set(by_type)
    for et, uids in by_type.items():
        kmin = sorted(
            hashlib.md5(str(u).encode()).hexdigest()[:_KMV_HEX] for u in uids
        )[:KMV_K]
        n, kth, est = out[et]
        assert (n, kth) == (len(kmin), kmin[-1]), et
        if len(uids) < KMV_K:
            assert est == float(len(uids))


def test_streaming_lsh_dedup_multi_batch_equals_batch_x08(spark):
    """t15 under REAL incrementality: documents split into 4 files
    (4 micro-batches), the cumulative pair set must equal the batch x08
    pipeline's verified pairs exactly — each pair emitted once, when its
    later member arrives."""
    import os

    from smart_water_management_spark.llmdata.dedup import (
        x08_minhash_lsh_dedup,
    )
    from smart_water_management_spark.streaming.jobs import (
        t15_streaming_lsh_dedup,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        docs.repartition(4).write.parquet(os.path.join(sf_dir, "documents.parquet"))
        got = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in t15_streaming_lsh_dedup(spark, sf_dir).collect()
        }
    want = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in x08_minhash_lsh_dedup(spark, SF_DIR).collect()
    }
    assert got == want


def test_streaming_weighted_reservoir_multi_batch_equals_direct(spark):
    """t19's exact-merge claim under REAL incrementality: events split
    into 4 parquet files (maxFilesPerTrigger=1 => 4 micro-batches, so
    the foreachBatch merge genuinely re-merges partial reservoirs) and
    the final reservoir must equal the direct single-pass weighted
    draw over the same rows."""
    import hashlib
    import math
    import os

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = [
            (r.rank, r.event_id, round(r.sel_key, 10))
            for r in jobs.t19_stream_weighted_reservoir(spark, sf_dir)
            .orderBy("rank")
            .collect()
        ]
    rows = ev.filter(F.col("value") > 0).select("event_id", "value").collect()
    keyed = []
    for r in rows:
        h = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        keyed.append((round(math.log(u), 6) / round(r.value, 6), r.event_id))
    keyed.sort(key=lambda kv: (-kv[0], kv[1]))
    want = [
        (i + 1, eid, round(k, 10))
        for i, (k, eid) in enumerate(keyed[: jobs.WRES_K])
    ]
    assert got == want


def test_streaming_countmin_multi_batch_merge_equals_batch_x46(spark):
    """t20's exact-merge claim under REAL incrementality: split documents
    into 3 parquet files (3 micro-batches), so the foreachBatch merge
    genuinely re-sums partial grids, and check the probed heavy hitters
    equal the batch x46 output exactly."""
    import os

    from smart_water_management_spark.llmdata.text import (
        x46_countmin_heavy_hitters,
    )
    from smart_water_management_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        docs.repartition(3).write.parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        streamed = {
            r.word: (r.true_count, r.cms_estimate)
            for r in jobs.t20_streaming_countmin(spark, sf_dir).collect()
        }
    batch = {
        r.word: (r.true_count, r.cms_estimate)
        for r in x46_countmin_heavy_hitters(spark, SF_DIR).collect()
    }
    assert streamed == batch


def test_streaming_ri_monitor_multi_batch_equals_batch(spark):
    """t21 under real incrementality: 4 fact micro-batches, final audit
    row equals the one-shot batch left-join audit."""
    import os

    from smart_water_management_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        li.repartition(4).write.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        load_table(spark, SF_DIR, "orders").write.parquet(
            os.path.join(sf_dir, "orders.parquet")
        )
        row = jobs.t21_streaming_ri_monitor(spark, sf_dir).collect()[0]
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left")
    n_rows = joined.count()
    orphans = joined.filter(F.col("o_orderkey").isNull())
    n_orph = orphans.count()
    assert (row.n_rows, row.n_orphans) == (n_rows, n_orph)
    if n_orph == 0:
        assert row.min_orphan_key is None and row.max_orphan_key is None


def test_streaming_ab_monitor_multi_batch_equals_batch_m18(spark):
    """t24 under real incrementality: 4 event micro-batches; the merged
    sufficient statistics (and the z recomputed from them) must equal
    m18's one-shot batch computation bit-for-bit."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.event_type: r
            for r in jobs.t24_streaming_ab_monitor(spark, sf_dir).collect()
        }
    want = {
        r.event_type: r
        for r in _REGISTRY["m18_ab_proportion_test"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for et, w in want.items():
        g = got[et]
        assert (g.n_a, g.n_b, g.conv_a, g.conv_b) == (
            w.n_a,
            w.n_b,
            w.conv_a,
            w.conv_b,
        ), et
        assert g.z == w.z, et


def test_streaming_psi_monitor_multi_batch_equals_batch_x104(spark):
    """t25 under real incrementality: 4 document micro-batches; the
    merged histogram state must reproduce x104's batch PSI exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        docs.repartition(4).write.parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        got = {
            r.source: r
            for r in jobs.t25_streaming_psi_monitor(spark, sf_dir).collect()
        }
    want = {
        r.source: r
        for r in _REGISTRY["x104_psi_drift"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for src, w in want.items():
        g = got[src]
        assert g.n_docs == w.n_docs, src
        assert g.psi == w.psi, src


def test_streaming_changepoint_multi_batch_equals_batch_m19(spark):
    """t26 under real incrementality: 4 event micro-batches; the merged
    decimal hourly grid must reproduce m19's batch change-point exactly
    (split index, hour, gain, and segment means bit-for-bit)."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.event_type: r
            for r in jobs.t26_streaming_changepoint(spark, sf_dir).collect()
        }
    want = {
        r.event_type: r
        for r in _REGISTRY["m19_changepoint_detection"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for et, w in want.items():
        g = got[et]
        assert (g.n_hours, g.split_t, g.split_hour) == (
            w.n_hours,
            w.split_t,
            w.split_hour,
        ), et
        assert (g.gain, g.mean_left, g.mean_right) == (
            w.gain,
            w.mean_left,
            w.mean_right,
        ), et


def test_streaming_conversion_latency_multi_batch_equals_a39(spark):
    """t27 under real incrementality: 4 event micro-batches; the
    MIN-merged first-touch state must reproduce a39's batch funnel
    latencies exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            (r.step_a, r.step_b): r
            for r in jobs.t27_streaming_conversion_latency(
                spark, sf_dir
            ).collect()
        }
    want = {
        (r.step_a, r.step_b): r
        for r in _REGISTRY["a39_conversion_latency"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g.n_users_a, g.n_converted) == (w.n_users_a, w.n_converted), k
        assert (
            g.conversion_rate,
            g.median_latency_s,
            g.p90_latency_s,
        ) == (w.conversion_rate, w.median_latency_s, w.p90_latency_s), k


def test_streaming_mmd_multi_batch_equals_batch_x127(spark):
    """t28 under real incrementality: 4 embedding micro-batches; the
    merged integer moment state must finalize to x127's batch MMD
    matrix exactly (pair set, counts, and 9-dp mmd2 bit-for-bit)."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    em = load_table(spark, SF_DIR, "embeddings")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        em.repartition(4).write.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        )
        got = {
            (r.label_a, r.label_b): r
            for r in jobs.t28_streaming_mmd_monitor(spark, sf_dir).collect()
        }
    want = {
        (r.label_a, r.label_b): r
        for r in _REGISTRY["x127_embedding_mmd_matrix"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g.n_a, g.n_b) == (w.n_a, w.n_b), k
        assert g.mmd2 == w.mmd2, k


def test_streaming_page_hinkley_multi_batch_equals_batch_m31(spark):
    """t29 under real incrementality: 4 event micro-batches; the merged
    decimal hourly grid must reproduce m31's batch Page-Hinkley result
    exactly (max gap, final deviation, alarm flag and step,
    bit-for-bit)."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.event_type: r
            for r in jobs.t29_streaming_page_hinkley(spark, sf_dir).collect()
        }
    want = {
        r.event_type: r
        for r in _REGISTRY["m31_page_hinkley"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for et, w in want.items():
        g = got[et]
        assert (g.n_hours, g.mu, g.sigma) == (w.n_hours, w.mu, w.sigma), et
        assert (g.ph_max, g.u_final, g.alarmed, g.alarm_step) == (
            w.ph_max,
            w.u_final,
            w.alarmed,
            w.alarm_step,
        ), et


def test_streaming_hampel_multi_batch_equals_batch_w32(spark):
    """t30 under real incrementality: 4 event micro-batches; the merged
    decimal hourly grid must reproduce w32's batch Hampel result exactly
    (evaluation count, flag count, last flagged hour, bit-for-bit)."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.event_type: r
            for r in jobs.t30_streaming_hampel(spark, sf_dir).collect()
        }
    want = {
        r.event_type: r
        for r in _REGISTRY["w32_hampel_filter"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for et, w in want.items():
        g = got[et]
        assert (g.n_eval, g.n_flagged, g.last_flagged_hour) == (
            w.n_eval,
            w.n_flagged,
            w.last_flagged_hour,
        ), et


def test_streaming_bootstrap_ci_multi_batch_equals_batch_m34(spark):
    """t31 under real incrementality: 4 event micro-batches; the merged
    decimal hourly grid must reproduce m34's batch bootstrap CI exactly
    (point mean, both order-statistic bounds, bit-for-bit)."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.event_type: r
            for r in jobs.t31_streaming_bootstrap_ci(spark, sf_dir).collect()
        }
    want = {
        r.event_type: r
        for r in _REGISTRY["m34_bootstrap_ci"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for et, w in want.items():
        g = got[et]
        assert (g.n_hours, g.mean_x, g.ci_lo, g.ci_hi) == (
            w.n_hours,
            w.mean_x,
            w.ci_lo,
            w.ci_hi,
        ), et


def test_streaming_drawdown_multi_batch_equals_batch_w34(spark):
    """t32 under real incrementality: 4 event micro-batches; the merged
    decimal daily flow grid must reproduce w34's batch drawdown result
    exactly (day count, balances, max drawdown, trough day, bit-for-bit)."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table
    from smart_water_management_spark.streaming import jobs

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.cohort: r
            for r in jobs.t32_streaming_drawdown(spark, sf_dir).collect()
        }
    want = {
        r.cohort: r
        for r in _REGISTRY["w34_max_drawdown"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for ch, w in want.items():
        g = got[ch]
        assert (
            g.n_days,
            g.final_balance,
            g.peak_balance,
            g.max_drawdown,
            g.trough_day,
        ) == (
            w.n_days,
            w.final_balance,
            w.peak_balance,
            w.max_drawdown,
            w.trough_day,
        ), ch


def test_streaming_regression_multi_batch_equals_batch_m36(spark):
    """t33 under real incrementality: 4 event micro-batches; the merged
    decimal hourly grid must reproduce m36's batch multiple-OLS fit
    exactly (all three betas and R^2, bit-for-bit)."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.event_type: r
            for r in jobs.t33_streaming_regression(spark, sf_dir).collect()
        }
    want = {
        r.event_type: r
        for r in _REGISTRY["m36_multiple_regression"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for et, w in want.items():
        g = got[et]
        assert (g.n_hours, g.beta0, g.beta_trend, g.beta_weekend, g.r2) == (
            w.n_hours,
            w.beta0,
            w.beta_trend,
            w.beta_weekend,
            w.r2,
        ), et


def test_streaming_winnow_multi_batch_equals_batch_x143(spark):
    """t34 under real incrementality: 4 document micro-batches; the
    appended per-doc fingerprint/position state must reproduce x143's
    batch winnowing report exactly (densities, shared fractions,
    bit-for-bit)."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table
    from smart_water_management_spark.streaming import jobs

    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        docs.repartition(4).write.parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        got = {
            r.source: r
            for r in jobs.t34_streaming_winnow_monitor(spark, sf_dir).collect()
        }
    want = {
        r.source: r
        for r in _REGISTRY["x143_winnowing_fingerprints"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for src, w in want.items():
        g = got[src]
        assert (
            g.n_docs,
            g.n_positions,
            g.n_selected,
            g.density,
            g.n_fp,
            g.n_fp_shared,
            g.shared_frac,
        ) == (
            w.n_docs,
            w.n_positions,
            w.n_selected,
            w.density,
            w.n_fp,
            w.n_fp_shared,
            w.shared_frac,
        ), src


def test_streaming_mann_whitney_multi_batch_equals_batch_a48(spark):
    """t35 under real incrementality: lineitem split into 4 parquet
    files (4 micro-batches); the merged quantity grid must reproduce
    a48's batch U statistic and tie-corrected z exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        li.repartition(4).write.parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        )
        (got,) = jobs.t35_streaming_mann_whitney(spark, sf_dir).collect()
    (want,) = _REGISTRY["a48_mann_whitney"].fn(spark, SF_DIR).collect()
    assert (got.n_o, got.n_f, got.u2_o, got.tie_term, got.z_stat) == (
        want.n_o,
        want.n_f,
        want.u2_o,
        want.tie_term,
        want.z_stat,
    )


def test_streaming_interval_coalesce_multi_batch_equals_batch_j17(spark):
    """t36 under real incrementality: events split into 4 parquet files
    (4 micro-batches); the re-coalesced weighted span state must
    reproduce j17's batch coverage report exactly — including nested
    intervals that straddle batch boundaries."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.user_id: r
            for r in jobs.t36_streaming_interval_coalesce(spark, sf_dir).collect()
        }
    want = {
        r.user_id: r
        for r in _REGISTRY["j17_interval_coalesce"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        assert (g.n_spans, g.n_intervals, g.covered_sec, g.longest_span_sec) == (
            w.n_spans,
            w.n_intervals,
            w.covered_sec,
            w.longest_span_sec,
        ), uid


def test_streaming_cliffs_delta_multi_batch_equals_batch_a50(spark):
    """t37 under real incrementality: lineitem split into 4 parquet
    files (4 micro-batches); the merged quantity grid must reproduce
    a50's batch pair counts, raw-IEEE delta and magnitude band
    exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        li.repartition(4).write.parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        )
        (got,) = jobs.t37_streaming_cliffs_delta(spark, sf_dir).collect()
    (want,) = _REGISTRY["a50_cliffs_delta"].fn(spark, SF_DIR).collect()
    assert (
        got.n_o, got.n_f, got.gt_pairs, got.lt_pairs, got.tied_pairs,
        got.cliffs_delta, got.magnitude,
    ) == (
        want.n_o, want.n_f, want.gt_pairs, want.lt_pairs,
        want.tied_pairs, want.cliffs_delta, want.magnitude,
    )


def test_streaming_ansari_bradley_multi_batch_equals_batch_a53(spark):
    """t38 under real incrementality: lineitem split into 4 parquet
    files (4 micro-batches); the merged quantity grid must reproduce
    a53's batch AB statistic and tie-conditional z exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        li.repartition(4).write.parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        )
        (got,) = jobs.t38_streaming_ansari_bradley(spark, sf_dir).collect()
    (want,) = _REGISTRY["a53_ansari_bradley"].fn(spark, SF_DIR).collect()
    assert (got.n_rows, got.n_o, got.n_f, got.ab2_stat, got.z_stat) == (
        want.n_rows,
        want.n_o,
        want.n_f,
        want.ab2_stat,
        want.z_stat,
    )


def test_streaming_gamma_multi_batch_equals_batch_a51(spark):
    """t39 under real incrementality: lineitem split into 4 parquet
    files (4 micro-batches); the merged (year x quantity) contingency
    grid must reproduce a51's batch pair counts and all three
    association measures exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        li.repartition(4).write.parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        )
        (got,) = jobs.t39_streaming_gamma_monitor(spark, sf_dir).collect()
    (want,) = _REGISTRY["a51_gamma_somers_tauc"].fn(spark, SF_DIR).collect()
    assert (
        got.c_pairs, got.d_pairs, got.tied_v_only2,
        got.gamma, got.somers_d, got.tau_c,
    ) == (
        want.c_pairs, want.d_pairs, want.tied_v_only2,
        want.gamma, want.somers_d, want.tau_c,
    )


def test_streaming_cramer_von_mises_multi_batch_equals_batch_a55(spark):
    """t40 under real incrementality: lineitem split into 4 parquet
    files (4 micro-batches); the merged quantity grid must reproduce
    a55's batch T statistic and standardized z exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        li.repartition(4).write.parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        )
        (got,) = jobs.t40_streaming_cramer_von_mises(spark, sf_dir).collect()
    (want,) = _REGISTRY["a55_cramer_von_mises"].fn(spark, SF_DIR).collect()
    assert (got.n_o, got.n_f, got.t_cvm, got.z_stat) == (
        want.n_o,
        want.n_f,
        want.t_cvm,
        want.z_stat,
    )


def test_streaming_pettitt_multi_batch_equals_batch_m44(spark):
    """t41 under real incrementality: events split into 4 parquet files
    (4 micro-batches); the merged hourly grid, rolled up to days, must
    reproduce m44's batch K statistic, changepoint day and p-value
    exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.event_type: r
            for r in jobs.t41_streaming_pettitt(spark, sf_dir).collect()
        }
    want = {
        r.event_type: r
        for r in _REGISTRY["m44_pettitt_test"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for et, w in want.items():
        g = got[et]
        assert (g.n_days, g.k_stat, g.change_day, g.p_approx) == (
            w.n_days,
            w.k_stat,
            w.change_day,
            w.p_approx,
        ), et


def test_streaming_page_trend_multi_batch_equals_batch_a56(spark):
    """t42 under real incrementality: events split into 4 parquet files
    (4 micro-batches); the merged hourly grid, rolled up to days, must
    reproduce a56's batch L2 statistic and z exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        ev.repartition(4).write.parquet(os.path.join(sf_dir, "events.parquet"))
        got = {
            r.event_type: r
            for r in jobs.t42_streaming_page_trend(spark, sf_dir).collect()
        }
    want = {
        r.event_type: r
        for r in _REGISTRY["a56_page_trend_test"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for et, w in want.items():
        g = got[et]
        assert (g.n_weeks, g.l2_stat, g.z_stat) == (
            w.n_weeks,
            w.l2_stat,
            w.z_stat,
        ), et


def test_streaming_anderson_darling_multi_batch_equals_batch_a58(spark):
    """t43 under real incrementality: lineitem split into 4 parquet
    files (4 micro-batches); the merged quantity grid must reproduce
    a58's batch A2 statistic exactly."""
    import os

    from smart_water_management_spark.registry import _REGISTRY
    from smart_water_management_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        li.repartition(4).write.parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        )
        (got,) = jobs.t43_streaming_anderson_darling(spark, sf_dir).collect()
    (want,) = _REGISTRY["a58_anderson_darling"].fn(spark, SF_DIR).collect()
    assert (got.n_o, got.n_f, got.a2_stat) == (
        want.n_o,
        want.n_f,
        want.a2_stat,
    )


def test_held_state_frames_survive_a_later_replay(spark, tmp_path):
    """A state maintainer's result holds its own state: t07, t14, t26 and
    t29 built over one dir, then over a second dir (whose replays reset
    the same state tables), each still match their own dir's oracle."""
    import duckdb
    import pyarrow.parquet as pq

    from smart_water_management_spark.registry import _REGISTRY

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    dirs = [tmp_path / "a", tmp_path / "b"]
    for d, rows in zip(dirs, (events, events.slice(0, events.num_rows // 2))):
        d.mkdir()
        pq.write_table(rows, d / "events.parquet")
    names = ("t07_streaming_sensor_status", "t14_streaming_kmv_sketch",
             "t26_streaming_changepoint", "t29_streaming_page_hinkley")
    held = [(d, n, _REGISTRY[n].fn(spark, str(d))) for d in dirs for n in names]
    for d, name, df in held:
        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
            assert_oracle_match(df, con, _REGISTRY[name].oracle,
                                name=f"{name} over {d.name}")


def test_failed_fold_raises_and_restores_the_session(spark):
    """Failures are loud: a merge that raises stops the replay with the
    error, and leaves no running query and the session's own shuffle
    partition count behind."""
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def merge(session, batch_df):
        raise ValueError("merge refused this batch")

    with pytest.raises(Exception, match="merge refused this batch"):
        jobs.fold_state(
            jobs.read_event_stream(spark, SF_DIR),
            {"failing_fold_state": "user_id LONG"},
            merge,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.streams.active == []


def test_fold_over_an_empty_stream_returns_empty_state(spark, tmp_path):
    """A replay with no input files still returns each state table's
    final state: empty, with the table's columns."""
    stream = spark.readStream.schema("user_id long").parquet(str(tmp_path))
    out = jobs.fold_state(
        stream,
        {"empty_fold_state": "user_id LONG, n BIGINT"},
        lambda session, batch_df: {"empty_fold_state": batch_df},
    )["empty_fold_state"]
    assert out.schema.simpleString() == "struct<user_id:bigint,n:bigint>"
    assert out.collect() == []


def test_streaming_twins_carry_their_sources_oracle():
    """Each streaming twin whose oracle is shared from a batch query
    carries that oracle verbatim (a missing name fails the import)."""
    from smart_water_management_spark.registry import _REGISTRY

    for twin, source in {
        "t29_streaming_page_hinkley": "m31_page_hinkley",
        "t30_streaming_hampel": "w32_hampel_filter",
        "t31_streaming_bootstrap_ci": "m34_bootstrap_ci",
        "t32_streaming_drawdown": "w34_max_drawdown",
        "t33_streaming_regression": "m36_multiple_regression",
        "t34_streaming_winnow_monitor": "x143_winnowing_fingerprints",
        "t41_streaming_pettitt": "m44_pettitt_test",
    }.items():
        assert _REGISTRY[source].oracle, source
        assert _REGISTRY[twin].oracle == _REGISTRY[source].oracle, twin
