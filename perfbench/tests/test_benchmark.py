"""Self-test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/tests -q

Runs every workload untraced and traced, and checks that the last output
line carries exactly the metric names and units BENCHMARK.json declares, and
that a corrupted warehouse output is counted as a failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from layers import UNITS as PER_LAYER  # noqa: E402
from run import END_TO_END, WORKLOADS  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert proc.returncode == 0
    return json.loads(proc.stdout.strip().splitlines()[-1])


def units(result: dict) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    result = run(workload, 0)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert units(result) == END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics(workload):
    result = run(workload, 1)
    assert result["correct"]
    assert units(result) == PER_LAYER


def test_dropped_warehouse_row_is_counted():
    result = run("etl_daily", 0, "--corrupt-output")
    assert not result["correct"]
    assert result["failed"] >= 1
