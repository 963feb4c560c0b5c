#!/usr/bin/env python
"""Plan fingerprints: rewrite plans/fingerprints.json, or inspect plans.

With no arguments, plans every natural registry name in one plan pass
(the same pass and counts the tier-1 test diffs against) and rewrites
plans/fingerprints.json: one line per query with its node-kind counts,
zeros omitted, plus the SF it was taken on.

With query names, prints each one's formatted physical plan and its
counts instead, and writes nothing.

The data dir is the test suite's: $SWM_TEST_SF_DIR (default sf0.001).

Usage: python tools/plans.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))

from smart_water_management_spark.registry import _REGISTRY  # noqa: E402
from smart_water_management_spark.session import get_session  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402
from tests.test_physical_plans import (  # noqa: E402
    FINGERPRINTS,
    SF_NAME,
    fingerprint,
    live_fingerprints,
    natural_names,
    plan_of,
    start_plan_pass,
)


def write(live: dict[str, dict[str, int]]) -> None:
    lines = [f"{json.dumps(n)}: {json.dumps(c)}" for n, c in live.items()]
    with open(FINGERPRINTS, "w") as f:
        f.write(
            "{\n"
            f'"sf": {json.dumps(SF_NAME)},\n'
            '"queries": {\n' + ",\n".join(lines) + "\n}\n}\n"
        )


def main() -> None:
    names = sys.argv[1:]
    spark = get_session("plans")
    spark.sparkContext.setLogLevel("ERROR")
    if not names:
        live = live_fingerprints(spark, natural_names())
        write(live)
        print(f"wrote {FINGERPRINTS}: {len(live)} queries at {SF_NAME}")
    else:
        start_plan_pass(spark)
        for name in names:
            df = _REGISTRY[name].fn(spark, SF_DIR)
            print(plan_of(df, "formatted"))
            print(f"{name}: {json.dumps(fingerprint(plan_of(df, 'simple')))}\n")
    spark.stop()


if __name__ == "__main__":
    main()
