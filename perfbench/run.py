#!/usr/bin/env python3
"""Outside-in benchmark of the smart_water_management_spark engine.

Drives only the engine's public surface (``get_session``, ``queries()``,
``oracle_sql()``) on ``local[nproc]`` with the engine's default
configuration, one closed-loop client:

  python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py and README.md): ``dashboard`` and ``batch``,
which BENCHMARK.json declares, and ``batch_sf1`` and ``sweep``, run by
hand. Inputs are generated from ``--seed`` (gen.py) and cached
under ``perfbench/.work/inputs``. Every op's output is checked against its
DuckDB oracle outside the timed window. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics); the line
before it holds the run record (seed, input properties, memory, tails).
Exit status 1 when an output is wrong or an op raised, 2 on a usage or
environment error.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

from stats import cpu_times, median, percentile, steal_share, tree_cpu_s  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE = "smart_water_management_spark"

# The gated metrics. The run record's e2e also holds ops_per_s, pass_s and
# peak_rss_mb: across ten runs on a shared VM, hypervisor steal moved the
# wall-clock ones up to 20% between quartiles and G1's heap sizing moved
# the JVM's high-water mark 34%. CPU time is not charged for steal.
E2E_METRICS = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
}


@dataclass
class Sample:
    name: str
    phase: str            # warmup | cold | soak | timed
    latency_s: float
    result: object = None  # pandas frame (collect) or output path (write)
    error: str | None = None
    digest: tuple | None = None  # (frame hash, rows), filled outside timing


class ScratchGuard:
    """Removes what a run creates under the checkout's ``spark-warehouse``
    (the engine's io_ops write there), so every run starts from the same
    on-disk state."""

    def __init__(self, root: str):
        self.base = os.path.join(root, "spark-warehouse")
        self.scratch = os.path.join(self.base, "scratch")
        self._had_base = os.path.isdir(self.base)
        self._before = set(os.listdir(self.scratch)) if os.path.isdir(self.scratch) else None
        self.created: list[str] = []

    def clean(self) -> None:
        if self._before is None:
            target = self.scratch if self._had_base else self.base
            if os.path.isdir(self.scratch):
                self.created = sorted(os.listdir(self.scratch))
            shutil.rmtree(target, ignore_errors=True)
            return
        if os.path.isdir(self.scratch):
            self.created = sorted(set(os.listdir(self.scratch)) - self._before)
            for entry in self.created:
                path = os.path.join(self.scratch, entry)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)


def _prepare_env() -> int:
    """Point every temp and scratch location into the checkout; returns the
    task-slot count."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("tmp", "local", "out", "traces"):
        path = os.path.join(WORK, sub)
        if sub != "traces":
            shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers must import the engine from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


class Bench:
    def __init__(self, args, workload, sf_dir: str, gen_s: float):
        self.args = args
        self.w = workload
        self.sf_dir = sf_dir
        self.gen_s = gen_s
        self.samples: list[Sample] = []
        self.persisted: list[tuple[str, int]] = []
        self.tracer = None

    # -- session ----------------------------------------------------------------

    def start(self) -> None:
        from stats import PeakRss

        t0 = time.perf_counter()
        import smart_water_management_spark as swm
        from smart_water_management_spark import registry
        from workloads import natural_ops

        t1 = time.perf_counter()
        self.spark = swm.get_session("perfbench")
        t2 = time.perf_counter()
        self.queries = swm.queries()
        self.oracles = swm.oracle_sql()
        self.modules = natural_ops(registry._REGISTRY)
        self.rss = PeakRss()
        self.rss.start()
        if self.args.trace:
            from spans import Tracer
            self.tracer = Tracer(self.spark, t1 - t0, t2 - t1)

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for every process the
        JVM started (its Python workers) to end."""
        from pyspark import SparkContext

        from stats import alive, descendants

        self.rss.stop()
        children = descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline and any(alive(p) for p in children):
            time.sleep(0.1)

    # -- ops --------------------------------------------------------------------

    def _action(self, name: str):
        if self.w.write_outputs:
            path = os.path.join(WORK, "out", name)
            return lambda df: (df.write.mode("overwrite").parquet(path), path)[1]
        return lambda df: df.toPandas()

    def op(self, name: str, phase: str) -> Sample:
        fn = self.queries[name]
        construct = lambda: fn(self.spark, self.sf_dir)  # noqa: E731
        action = self._action(name)
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                latency, result = self.tracer.run_op(
                    name, self.modules[name], construct, action)
            else:
                result = action(construct())
                latency = time.perf_counter() - t0
            sample = Sample(name, phase, latency, result)
        except Exception as exc:  # an op that raises is a counted failure
            sample = Sample(name, phase, time.perf_counter() - t0,
                            error=f"{type(exc).__name__}: {str(exc)[:500]}")
        self.samples.append(sample)
        if self.tracer is not None:
            self.tracer.records[-1]["phase"] = phase
        return sample

    def mark_pass(self, label: str) -> None:
        """Log the engine's persisted-RDD count at a pass boundary."""
        count = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.persisted.append((label, count))

    def digest(self, samples: list[Sample]) -> None:
        """Hash results outside the timed window (write outputs are read back
        before the next pass overwrites them)."""
        import pyarrow.parquet as pq

        from check import frame_hash

        for s in samples:
            if s.error is None and s.digest is None:
                frame = (pq.read_table(s.result).to_pandas()
                         if isinstance(s.result, str) else s.result)
                s.digest = (frame_hash(frame), len(frame))
                s.result = None

    # -- workload modes ---------------------------------------------------------

    def cold_pass(self, ops: list[str]) -> float:
        t0 = time.perf_counter()
        for name in ops:
            self.op(name, "cold")
        return time.perf_counter() - t0

    def _jvm_gc_ms(self) -> int:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(bean.getCollectionTime() for bean in beans)

    def _open_window(self) -> None:
        self.window_start = time.time()
        self._cpu_at_window = cpu_times()
        self._gc_at_window = self._jvm_gc_ms()
        self._tree_cpu_at_window = tree_cpu_s(os.getpid())

    def run(self) -> dict:
        """Run the workload; returns the end-to-end metrics it measured.
        Leaves the timed window's samples and pass count in ``self.window``."""
        from workloads import (SWEEP_WARMUP, cold_order, dashboard_mix, dashboard_panels,
                               sweep_ops)

        seconds, seed = self.args.seconds, self.args.seed
        out: dict = {}
        if self.w.mode == "mix":
            ops = dashboard_panels(self.modules)
            self.cold_pass(cold_order(ops, seed))
            out["setup_s"] = time.perf_counter() - T_START - self.gen_s
            self.mark_pass("cold")
            self.digest(self.samples)
            mix = dashboard_mix(ops, seed)
            # untimed soak: JIT and caches keep warming well past the cold pass
            soak_end = time.perf_counter() + seconds / 2
            while time.perf_counter() < soak_end:
                self.op(next(mix), "soak")
            self.mark_pass("soak")
            self._open_window()
            w0 = time.perf_counter()
            window = [self.op(next(mix), "timed")]
            while time.perf_counter() - w0 < seconds:
                window.append(self.op(next(mix), "timed"))
            wall = time.perf_counter() - w0
            self.mark_pass("timed")
            out["ops_per_s"] = len(window) / wall
            # one full refresh: every panel once, at its median latency
            out["pass_s"] = sum(
                median([s.latency_s for s in window if s.name == p] or [0.0])
                for p in ops)
            passes = len(window) / len(ops)
        elif self.w.mode == "cold":
            ops = sweep_ops(self.modules, seed)
            for name in SWEEP_WARMUP:
                self.op(name, "warmup")
            self._open_window()
            wall = self.cold_pass(ops)
            out["setup_s"] = time.perf_counter() - T_START - self.gen_s
            self.mark_pass("cold")
            window = [s for s in self.samples if s.phase == "cold"]
            out["pass_s"] = wall
            out["ops_per_s"] = len(ops) / wall
            passes = 1
        else:
            ops = list(self.w.ops)
            self.cold_pass(ops)
            out["setup_s"] = time.perf_counter() - T_START - self.gen_s
            self.mark_pass("cold")
            self.digest(self.samples)
            walls, window = [], []
            self._open_window()
            # another pass only if it should end inside the window
            while not walls or sum(walls) + median(walls) <= seconds:
                p0 = time.perf_counter()
                batch = [self.op(name, "timed") for name in ops]
                walls.append(time.perf_counter() - p0)
                self.mark_pass(f"timed{len(walls)}")
                self.digest(batch)
                window += batch
            out["pass_s"] = median(walls)
            out["ops_per_s"] = len(window) / sum(walls)
            passes = len(walls)
        out["cpu_ms_per_op"] = (tree_cpu_s(os.getpid()) - self._tree_cpu_at_window) * 1000 / len(window)
        self.window = (passes, window)
        # host noise and JVM state over the window, to tell them from engine changes
        self.steal = steal_share(self._cpu_at_window, cpu_times())
        self.gc_share = (self._jvm_gc_ms() - self._gc_at_window) / 1000 / (
            time.time() - self.window_start)
        return out

    # -- check ------------------------------------------------------------------

    def check(self) -> list[str]:
        """Count raised and wrong ops; returns one line per failure."""
        from check import Oracle

        self.digest(self.samples)
        cold_rows = {s.name: s.digest[1] for s in self.samples
                     if s.phase == "cold" and s.digest is not None}
        oracle = Oracle(self.sf_dir)
        problems = []
        try:
            for s in self.samples:
                if s.error is not None:
                    problems.append(f"{s.name} [{s.phase}] raised {s.error}")
                elif s.name in self.oracles:
                    if s.digest[0] != oracle.hash(s.name, self.oracles[s.name]):
                        problems.append(f"{s.name} [{s.phase}] result differs from its oracle "
                                        f"({s.digest[1]} rows)")
                elif s.digest[1] != cold_rows.get(s.name):
                    problems.append(f"{s.name} [{s.phase}] rows-only op returned "
                                    f"{s.digest[1]} rows, cold pass {cold_rows.get(s.name)}")
        finally:
            oracle.close()
        return problems


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found next to {HERE}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    # a terminated run still stops its JVM and cleans its scratch entries
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import gen

    g0 = time.perf_counter()
    sf_dir = gen.ensure(os.path.join(WORK, "inputs"), workload.scale, args.seed)
    gen_s = time.perf_counter() - g0
    cpus = _prepare_env()
    sys.path.insert(0, ROOT)
    guard = ScratchGuard(ROOT)
    bench = Bench(args, workload, sf_dir, gen_s)
    try:
        bench.start()
        try:
            e2e = bench.run()
            if bench.tracer is not None:
                passes, _ = bench.window
                records = [r for r in bench.tracer.records if r.get("phase") == "timed"
                           or (workload.mode == "cold" and r.get("phase") == "cold")]
                layers = bench.tracer.layer_metrics(records, passes, (bench.window_start - 1, time.time()),
                                                    sorted(set(bench.modules.values())))
        finally:
            bench.stop()
        e2e["peak_rss_mb"] = bench.rss.peak_mb()  # before the check's DuckDB and hashing
        problems = bench.check()
    finally:
        guard.clean()
    attempted = len(bench.samples)
    lat = [s.latency_s * 1000 for s in bench.window[1]]
    record = {
        "workload": workload.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus,
        "inputs": {"scale": workload.scale, "generate_s": round(gen_s, 3),
                   **gen.properties(sf_dir)},
        "ops": {ph: sum(s.phase == ph for s in bench.samples)
                for ph in ("warmup", "cold", "soak", "timed")},
        "op_ms": {ph: {n: round(median([s.latency_s * 1000 for s in bench.samples
                                         if s.name == n and s.phase == ph]), 1)
                       for n in sorted({s.name for s in bench.samples if s.phase == ph})}
                  for ph in ("cold", "timed")},
        "failed_frac": len(problems) / attempted,
        "latency_ms": {"samples": len(lat), "p50": median(lat),
                       "p95": percentile(lat, 95) or "omitted: fewer than 10 samples beyond it"},
        "rss_mb": bench.rss.parts_mb(),
        "cpu_steal_share": bench.steal,
        "jvm_gc_share": bench.gc_share,
        "persisted_rdds": bench.persisted,
        "scratch_removed": guard.created,
        "e2e": e2e,
    }
    for line in problems:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    if bench.tracer is not None:
        from spans import LAYER_METRICS, module_metric_names

        units = {**LAYER_METRICS, **module_metric_names(sorted(set(bench.modules.values())))}
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in sorted(units)}
        path = os.path.join(WORK, "traces", f"{workload.name}-seed{args.seed}.jsonl")
        bench.tracer.write(path)
        record["spans"] = {"path": os.path.relpath(path, ROOT),
                           "count": len(bench.tracer.spans)}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_METRICS.items()}
    print(json.dumps({"run": record}))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": len(problems), "metrics": metrics}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
