"""Tests of the benchmark itself (no Spark session needed).

  python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def test_percentile_refuses_unsupported_tail():
    values = [float(i) for i in range(1, 200)]  # 199 samples: 9 beyond p95
    assert stats.percentile(values, 95) is None
    values.append(200.0)  # 200 samples: 10 beyond p95
    assert stats.percentile(values, 95) == 190.0
    assert stats.percentile([1.0] * 10, 50) is None
    assert stats.percentile([1.0] * 20, 50) == 1.0


def test_generator_is_byte_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write(str(a), 0.001, seed=11)
    gen.write(str(b), 0.001, seed=11)
    for table in gen.TABLES:
        name = f"{table}.parquet"
        assert (a / name).read_bytes() == (b / name).read_bytes(), table
    gen.write(str(tmp_path / "c"), 0.001, seed=12)
    assert (a / "events.parquet").read_bytes() != (tmp_path / "c" / "events.parquet").read_bytes()


def test_generator_properties(tmp_path):
    out = str(tmp_path / "in")
    gen.write(out, 0.01, seed=3)
    props = gen.properties(out)
    assert props["rows"] == gen.row_counts(0.01)
    assert props["near_dup_share"] == gen.NEAR_DUP_SHARE
    assert props["hot_key_share"] < 0.001


def test_metric_names_are_well_formed():
    modules = ["operators.windows", "llmdata.dedup", "plans.dashboard"]
    names = [*run.E2E_METRICS, *spans.LAYER_METRICS, *spans.module_metric_names(modules)]
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    for name in names:
        assert stats.METRIC_NAME.fullmatch(name), name
    declared = {m["name"] for m in bench["end_to_end"]}
    assert declared == set(run.E2E_METRICS)


def test_frame_hash_is_order_insensitive_and_type_strict():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
    b = pd.DataFrame({"v": [float("nan"), 0.5], "k": [2, 1]})
    assert check.frame_hash(a) == check.frame_hash(b)
    as_float = pd.DataFrame({"k": [1.0, 2.0], "v": [0.5, float("nan")]})
    assert check.frame_hash(a) != check.frame_hash(as_float)
    assert check.frame_hash(a) != check.frame_hash(a.iloc[:1])


def test_raising_and_wrong_ops_count_as_failed(tmp_path):
    sf_dir = str(tmp_path / "in")
    gen.write(sf_dir, 0.001, seed=5)
    sql = "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type"
    oracle = check.Oracle(sf_dir)
    good = oracle._con.execute(sql).df()
    oracle.close()
    wrong = good.assign(n=good["n"] + 1)
    bench = run.Bench(None, workloads.WORKLOADS["sweep"], sf_dir, 0.0)
    bench.oracles = {"good": sql, "bad": sql, "boom": sql}
    bench.samples = [
        run.Sample("good", "cold", 0.1, good.copy()),
        run.Sample("bad", "cold", 0.1, wrong),
        run.Sample("boom", "cold", 0.1, error="ValueError: boom"),
        run.Sample("rows", "cold", 0.1, good.copy()),
        run.Sample("rows", "timed", 0.1, good.iloc[:2].copy()),
    ]
    problems = bench.check()
    assert len(problems) == 3
    assert any("bad" in p and "differs" in p for p in problems)
    assert any("boom" in p and "raised" in p for p in problems)
    assert any("rows-only" in p for p in problems)


def test_sweep_sample_is_stratified_and_fixed():
    ops = {f"{m}{i}": m for m in ("a", "b", "c") for i in range(5)}
    ops["d0"] = "d"
    sample = workloads.stratified_sample(ops, per_module=2, seed=1)
    assert sorted(ops[n] for n in sample) == ["a", "a", "b", "b", "c", "c", "d"]
    assert sample == workloads.stratified_sample(ops, per_module=2, seed=1)
    one, two = workloads.sweep_ops(ops, seed=1), workloads.sweep_ops(ops, seed=2)
    assert sorted(one) == sorted(two) and one != two


def test_parse_metric_formats():
    assert spans.parse_metric("28,572") == 28572
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n"
                              "1.5 KiB (0.0 B, 0.5 KiB, 1.0 KiB (stage 1.0: task 3))") == 1536
    assert spans.parse_metric("total (min, med, max)\n2.0 s (1 ms, 1 ms, 1 ms)") == 2000


def test_declared_workloads_exist():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = {w["name"] for w in json.load(f)["workloads"]}
    assert declared <= set(workloads.WORKLOADS)
