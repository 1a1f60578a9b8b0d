"""Smoke test of the benchmark at tiny graph size.

    python3 -m pytest -q perfbench/test_smoke.py

Checks that ``BENCHMARK.json`` names exactly the metrics the benchmark
prints, and that a tiny untraced and a tiny traced run each end with a
correct result line carrying every metric with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import E2E, LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_the_printed_metrics():
    b = _bench_json()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == LAYER
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace,names", [
    ("synth-256px", 0, E2E),
    ("revoke-compact", 1, LAYER),
])
def test_tiny_run_prints_every_metric(workload, trace, names):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))
