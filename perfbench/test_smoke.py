"""Smoke test of the benchmark: every workload in BENCHMARK.json, untraced
and traced, at the minimum op count (face tables at sf 0.001).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 21
    for spec in specs:
        got = result["metrics"][spec["name"]]
        assert got["unit"] == spec["unit"], spec["name"]
        assert isinstance(got["value"], float), spec["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_then_traced(workload):
    detail, result = bench(workload, 0)
    assert_metrics(result, SPEC["end_to_end"])
    m = result["metrics"]
    assert detail["op_n"] >= 21 and 50.0 <= detail["op_tail_pct"] < 100.0
    assert m["op_tail_s"]["value"] >= m["op_p50_s"]["value"] > 0.0
    assert m["ok_frac"]["value"] == 1.0

    _, traced = bench(workload, 1)
    assert_metrics(traced, SPEC["per_layer"])
    t = traced["metrics"]
    assert t["queries.construct_jobs"]["value"] >= 0.0
    assert t["spark.jobs"]["value"] > 0 and t["trace.overhead_ratio"]["value"] > 0.0
    assert t["spark.task_failures"]["value"] == 0.0
