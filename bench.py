#!/usr/bin/env python
"""Benchmark harness (driver contract): run the engine's headline queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

The headline set spans every operator family (scan/filter, agg, join,
window, dashboard SQL, validation, time windows, TRUE streaming replay,
skew handling, dedup, similarity, text) so the number tracks whole-engine
throughput, not one hot path.

Timing protocol: each query runs TWICE and the MINIMUM of the two wall
times is reported. A single-pass reading is hostage to whatever else the
sandbox is doing (round 3's official number was 4.3x contention noise);
min-of-2 cannot fully defeat a loaded machine but bounds the damage to
"both passes were interrupted". The reported total is the sum of per-query
minima. Reported numbers are therefore WARM (footer caches, JIT, shared
scan plans primed); cold-start wall-clock is approximately the first-pass
time of each query.

Since round 12 (VERDICT r11 directive #2) the `queries` map carries the
protocol min-of-2 per-query values (identical to `queries_min2`); the raw
single-pass pass-A walls remain under the additive `queries_pass_a` key
and the `value` total keeps its historical pass-A meaning.

Round-5 additions (VERDICT r4 #3): x41 and x65 join the headline so the
ANN scale path (hyperplane-LSH candidates; IVF cells + PQ codes + exact
rerank) has a tracked perf number, not just correctness. No other
protocol change, so r4→r5 per-query numbers stay comparable.

The skew A/B pair (k04_skew_join_salted vs k04_naive_nosplit /
k04_naive_aqe) times the same hot-key join three ways — salted (static
fix), unsalted with AQE skew-split disabled (the straggler), unsalted with
AQE allowed to split (the runtime fix) — so skew-handling regressions are
visible as the naive-nosplit entry catching up to the others.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession

import smart_water_management_spark as swm

HEADLINE = [
    "a01_multi_agg_pricing",      # grouped multi-agg (TPC-H Q1 shape)
    "a14_rollup_grains",          # ROLLUP multi-grain
    "j03_star_join",              # star join
    "j09_asof_join",              # as-of join (union + carry-forward)
    "j10_range_join",             # bucketized range join
    "k04_skew_join_salted",       # salted hot-key join (95% skew)
    "k06_bloom_prefilter",        # bloom-bitset semi-join pre-filter
    "w02_range_rolling",          # multi-horizon RANGE windows
    "w06_rolling_zscore",         # rolling anomaly flags
    "w13_time_weighted_avg",      # trapezoidal TWA (irregular sampling)
    "q05_district_performance",   # dashboard SQL via spark.sql
    "v01_fused_validation",       # single-pass rule engine
    "t01_tumbling_hourly",        # tumbling windows (batch twin)
    "t03_sessionization",         # gaps-and-islands sessions
    "t05_streaming_hourly",       # TRUE streaming availableNow replay
    "a24_kmv_sketch",             # re-aggregatable KMV distinct sketch
    "x05_exact_dedup",            # hash dedup
    "x08_minhash_lsh_dedup",      # MinHash+LSH near-dup
    "x53_pps_sample",             # systematic PPS weighted sampling
    "x36_tile_dedup",             # tile-level exact substring dedup
    "x10_bruteforce_cosine_topk", # similarity search (exact baseline)
    "x41_hyperplane_lsh_ann",     # hyperplane-LSH ANN (banded candidates)
    "x65_ivfpq_topk",             # IVF+PQ ANN — the billion-scale shape
    "x01_token_stats",            # text analysis
    "x27_unigram_logppl",         # unigram-LM perplexity (word-count shape)
    "x90_curation_funnel",        # end-to-end curation funnel (capstone)
    "p90_domain_pipeline",        # e2e domain fixture pipeline (BASELINE bar)
]

N_PASSES = 2


def _best_of(fn, n: int = N_PASSES) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName("swm-bench")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(8, int(cpus))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = swm.queries()
    # Warm the JVM / codegen / parquet footer cache with one tiny untimed
    # action so the first timed query measures the engine, not startup.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.range(1000).selectExpr("sum(id)").collect()

    # Frozen protocol (pass A): each query twice, per-query min, summed.
    # VERDICT r7 directive #3: raw wall swung ±17% across rounds on
    # unchanged code, so a SECOND full back-to-back suite pass (pass B)
    # runs after the A/B skew block, and the elementwise minima are
    # emitted additively as queries_min2/wall_min2 — the existing
    # fields keep their exact pass-A meaning so the historical series
    # stays comparable; judges compare min-of-2 to min-of-2 from r8 on.
    def _suite_pass() -> dict[str, float]:
        out: dict[str, float] = {}
        for name in HEADLINE:
            fn = qs[name]
            out[name] = round(_best_of(lambda: fn(spark, sf_dir).count()), 3)
        return out

    timings: dict[str, float] = _suite_pass()

    # Skew A/B: the same hot-key join without salting, with AQE skew-split
    # off (straggler baseline) then on (runtime fix). Conf toggles are
    # scoped and restored.
    from smart_water_management_spark.operators.skew import skew_join_naive

    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": None,  # filled below
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }

    def _skew_pass() -> dict[str, float]:
        out: dict[str, float] = {}
        saved = {k: spark.conf.get(k) for k in skew_confs}
        try:
            for variant, enabled in (
                ("k04_naive_nosplit", "false"),
                ("k04_naive_aqe", "true"),
            ):
                for k, v in skew_confs.items():
                    spark.conf.set(k, enabled if v is None else v)
                out[variant] = round(
                    _best_of(lambda: skew_join_naive(spark, sf_dir).count()), 3
                )
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        return out

    timings.update(_skew_pass())

    # Pass B: full back-to-back re-run of the headline suite AND the
    # skew A/B controls; min-of-2 damping per VERDICT r7 directive #3
    # and r8 directive #5 (the two naive denominators are the noisiest
    # numbers in the suite — naive_aqe swung +11.8% on unchanged code
    # in r8 pass-A).
    pass_b = _suite_pass()
    pass_b.update(_skew_pass())
    queries_min2 = {
        n: round(min(timings[n], pass_b[n]), 3) for n in timings
    }
    wall_min2 = round(sum(queries_min2[n] for n in HEADLINE), 3)

    # VERDICT r11 directive #2 (measurement-protocol fix, declared in
    # OPTIMIZATION_r12.md): the driver's per-query PERF table reads the
    # `queries` field, which until round 11 carried the noisy single-pass
    # pass-A walls — on a loaded host that manufactured phantom
    # regressions (r11: x08 reported 0.45x from a pass-A load spike while
    # its protocol min-of-2 improved 1.47x). `queries` now carries the
    # protocol min-of-2 values (same names, no entry removed or renamed);
    # the raw pass-A walls stay available under the ADDITIVE
    # `queries_pass_a` key and `value` keeps its exact historical pass-A
    # total meaning, so every old series remains reconstructable.
    # `queries_protocol` names what `queries` holds ("min2"), so a reader
    # can tell these records from pre-r12 ones without knowing the date.

    total = sum(timings[n] for n in HEADLINE)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Ambient-load control (VERDICT r6 directive #4): k04_naive_nosplit is
    # fixed work, untouched since round 4, so suite/naive normalizes away
    # machine-load noise — r5->r6 raw wall moved +17% while this ratio
    # IMPROVED 4.77->3.83 on identical headline code. Compare rounds on
    # the ratio; the raw wall stays the headline for BASELINE.md parity.
    # VERDICT r9 directive #4: the PRIMARY round-over-round number is the
    # load-normalized ratio suite_over_naive_nosplit_min2 (stable
    # 4.20→4.22→4.32 across rounds 7-9 while raw wall swung ±40% under
    # external host load). It is emitted FIRST; the raw walls stay as
    # secondary fields for BASELINE.md absolute-bar parity and the
    # historical series ("value" keeps its exact pass-A meaning).
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "primary_metric": "suite_over_naive_nosplit_min2",
                "suite_over_naive_nosplit_min2": round(
                    wall_min2 / queries_min2["k04_naive_nosplit"], 3
                ),
                "value": round(total, 3),
                "unit": "sec",
                "wall_min2": wall_min2,
                "queries_min2": queries_min2,
                "queries": queries_min2,
                "queries_protocol": "min2",
                "queries_pass_a": timings,
                "suite_over_naive_nosplit": round(
                    total / timings["k04_naive_nosplit"], 3
                ),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
