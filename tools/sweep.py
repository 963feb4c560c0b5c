#!/usr/bin/env python
"""Registry-wide per-query timing sweep.

Times EVERY natural (non-alias) registered query over one data dir with
the noop sink (computes every column, no sink cost), one warm-up-free
pass by default (``--passes 2`` for min-of-2), and writes a sorted JSON
report to the given output path.

It also counts each query's codegen compiles (Spark's CodegenMetrics) in
its first and its last pass. Under ``--passes 2`` a query whose last pass
still compiled generates different code per call, so the session's
compiled-class cache cannot serve its repeats.

This finds the slow tail the headline bench cannot see: a full registry
replay runs all ~520 declared queries, so a handful of 2-second
stragglers cost more wall clock than any headline query.

Usage: python tools/sweep.py <sf_dir> <out.json> [--passes N] [--names a,b,c]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_water_management_spark.registry import _REGISTRY  # noqa: E402
from smart_water_management_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out")
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--names", help="comma-separated subset of query names")
    args = ap.parse_args()
    only = set(args.names.split(",")) if args.names else None

    spark = get_session("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{args.sf_dir}/region.parquet").count()  # warm JVM

    names = [
        n for n, s in sorted(_REGISTRY.items())
        if s.alias_of is None and (only is None or n in only)
    ]
    compile_count = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount
    )
    out: dict[str, float] = {}
    compiles: dict[str, list[int]] = {}  # name -> [first pass, last pass]
    errs: dict[str, str] = {}
    t_start = time.monotonic()
    for i, n in enumerate(names):
        spec = _REGISTRY[n]
        spark.sparkContext.setJobDescription(f"sweep:{n}")
        best = float("inf")
        counts = []
        try:
            for _ in range(args.passes):
                c0, t0 = compile_count(), time.monotonic()
                df = spec.fn(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.monotonic() - t0)
                counts.append(compile_count() - c0)
            out[n] = round(best, 3)
            compiles[n] = [counts[0], counts[-1]]
        except Exception as exc:  # noqa: BLE001 - report, keep sweeping
            errs[n] = f"{type(exc).__name__}: {exc}"[:200]
        if (i + 1) % 50 == 0:
            print(
                f"[{i + 1}/{len(names)}] {time.monotonic() - t_start:.0f}s",
                flush=True,
            )
    spark.sparkContext.setJobDescription(None)

    report = {
        "sf_dir": args.sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "passes": args.passes,
        "total_wall": round(time.monotonic() - t_start, 1),
        "n_queries": len(out),
        "errors": errs,
        "compiles_first_pass": sum(c[0] for c in compiles.values()),
        "compiles_last_pass": sum(c[1] for c in compiles.values()),
        "last_pass_compiled": sorted(n for n, c in compiles.items() if c[1]),
        "compiles": compiles,
        "slowest": dict(sorted(out.items(), key=lambda kv: -kv[1])[:40]),
        "times": out,
    }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {args.out}; total {report['total_wall']}s over {len(out)} queries")
    print(f"compiles: first pass {report['compiles_first_pass']}, "
          f"last pass {report['compiles_last_pass']}; "
          f"last pass compiled: {report['last_pass_compiled']}")
    for k, v in list(report["slowest"].items())[:25]:
        print(f"  {k:40s} {v}")
    if errs:
        print("ERRORS:", errs)
    spark.stop()


if __name__ == "__main__":
    main()
