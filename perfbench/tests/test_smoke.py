"""Smoke test of the benchmark: every workload at tiny size, untraced and
traced, reports exactly the metrics BENCHMARK.json declares, with their
units; a planted wrong expected value is caught as a failed op.

    python -m pytest perfbench/tests -q      (about 5 minutes, 4 cores)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(tmp_path, workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny", *extra],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"),
                                           (1, "per_layer")])
def test_every_metric_reported(tmp_path, workload, trace, section):
    res = run(tmp_path, workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[section]}
    assert {k: m["unit"] for k, m in res["metrics"].items()} == want
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if trace == 0:
        assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_wrong_answer_is_counted(tmp_path, workload):
    res = run(tmp_path, workload, 0, "--plant-fault")
    assert not res["correct"]
    assert 0 < res["failed"] <= res["attempted"]
