#!/usr/bin/env python3
"""Tracing overhead: one untraced and one traced run of a workload, same
seed, and the relative difference of every end-to-end metric.

  python3 perfbench/overhead.py --workload dashboard --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_record(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.splitlines()[-2])["run"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain, traced = run_record(args, 0)["e2e"], run_record(args, 1)["e2e"]
    report = {k: {"untraced": plain[k], "traced": traced[k],
                  "overhead": (traced[k] - plain[k]) / plain[k]}
              for k in plain if isinstance(plain.get(k), (int, float)) and plain[k]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
