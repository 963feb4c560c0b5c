"""Workload definitions: which registry ops each workload runs, in what order.

Pure functions over the registry's op names, so the op lists can be tested
without a Spark session.
"""

from __future__ import annotations

import random
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "smart_water_management_spark"


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float   # input scale factor handed to gen.ensure
    # "mix": closed loop over a seeded uniform op mix for --seconds;
    # "cold": one pass over the op list, every op run once;
    # "passes": warm passes over a fixed op list for --seconds.
    mode: str
    ops: tuple[str, ...] = ()  # the fixed op list of a "passes" workload
    write_outputs: bool = False


# batch's fixed pipeline: an as-of join, validation, the streaming replay,
# a pandas UDF, the curation funnel and the engine's own write operators
# (partitioned sink, SCD2 merge, materialized-view refresh); each result is
# written as parquet. Left out to keep a run near one minute (sf0.1 walls
# on 4 cores, cold / warm): a01 (9.6 / 2.2 s), w06 (6.8 / 4.9 s), x08
# (7.5 / 1.7 s), x65 (11.3 / 2.4 s; its Python work runs only cold). Left
# out because it fails: x27 differs from its oracle on generated inputs
# (seed 2 at sf0.1, seed 1 at sf1); batch_sf1 still runs it.
BATCH_OPS = (
    "j09_asof_join",
    "v01_fused_validation",
    "t05_streaming_hourly",
    "f10_pandas_udf_severity",
    "x90_curation_funnel",
    "s05_partitioned_sink_prune",
    "c04_scd2_merge",
    "c07_mv_refresh",
)
# Every heavy op named for the 10x-scale pipeline.
BATCH_SF1_OPS = ("a01_multi_agg_pricing", "w06_rolling_zscore", "x08_minhash_lsh_dedup",
                 "x27_unigram_logppl", "x65_ivfpq_topk", *BATCH_OPS)

# Why each workload exists is in BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w for w in [
        Workload("dashboard", 0.1, "mix"),
        Workload("batch", 0.1, "passes", BATCH_OPS, write_outputs=True),
        # Run by hand: a run of either takes too long to repeat 22 times (see README.md).
        Workload("batch_sf1", 1.0, "passes", BATCH_SF1_OPS, write_outputs=True),
        Workload("sweep", 0.01, "cold"),
    ]
}

# The sweep's sample: SWEEP_PER_MODULE ops from each registering module,
# drawn once with SWEEP_SAMPLE_SEED. The run's seed orders the sample and
# generates its inputs; it does not redraw the sample, because a redrawn
# sample moves pass_s by far more than the bounds (17% spread between the
# quartiles of 200 seeded 2-per-module samples, from per-op cold walls
# measured at sf0.01).
SWEEP_PER_MODULE = 1
SWEEP_SAMPLE_SEED = 0
# Run before the sweep's pass, as the verification driver runs its smoke
# check before its replay: a session's first Spark job and its first
# Python-worker stage each cost seconds more than any later one on 4 cores,
# and without these ops that cost would land on whichever sampled ops the
# seed puts first.
SWEEP_WARMUP = ["a01_multi_agg_pricing", "f10_pandas_udf_severity"]


def module_of(spec) -> str:
    """The registering module of a registry spec, relative to the package
    (``llmdata.dedup``), from the undecorated query function."""
    fn = getattr(spec.fn, "__wrapped__", spec.fn)
    return fn.__module__.removeprefix(PACKAGE + ".")


def natural_ops(registry) -> dict[str, str]:
    """op name -> registering module, aliases excluded."""
    return {name: module_of(spec) for name, spec in sorted(registry.items())
            if spec.alias_of is None}


def dashboard_panels(ops: dict[str, str]) -> list[str]:
    return sorted(n for n, m in ops.items() if m == "plans.dashboard")


def stratified_sample(ops: dict[str, str], per_module: int, seed: int) -> list[str]:
    """``per_module`` ops drawn from each registering module (all of a
    module's ops when it has fewer), sorted by name."""
    rng = random.Random(seed)
    by_module: dict[str, list[str]] = defaultdict(list)
    for name, module in ops.items():
        by_module[module].append(name)
    sample = []
    for module in sorted(by_module):
        names = by_module[module]
        sample += rng.sample(names, min(per_module, len(names)))
    return sorted(sample)


def sweep_ops(ops: dict[str, str], seed: int) -> list[str]:
    """The sweep's fixed stratified sample, in the run's seeded order."""
    candidates = {n: m for n, m in ops.items() if n not in SWEEP_WARMUP}
    return cold_order(stratified_sample(candidates, SWEEP_PER_MODULE, SWEEP_SAMPLE_SEED), seed)


def dashboard_mix(panels: list[str], seed: int):
    """Endless seeded uniform stream of panel names."""
    rng = random.Random(seed)
    while True:
        yield rng.choice(panels)


def cold_order(ops: list[str], seed: int) -> list[str]:
    """The ops of a workload's cold pass, in seeded order."""
    order = list(ops)
    random.Random(seed).shuffle(order)
    return order
