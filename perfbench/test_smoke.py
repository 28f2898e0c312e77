"""Smoke test of the benchmark on its 600-page corpus.

    python -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced, and checks that each
run passes its output checks and prints every metric BENCHMARK.json
names, with its unit.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "2",
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(workload: str, trace: int) -> dict:
    p = run(workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0
    assert out["attempted"] >= 1
    return out


def units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end(workload):
    out = result(workload, 0)
    assert units(out["metrics"]) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer(workload):
    out = result(workload, 1)
    metrics = out["metrics"]
    assert units(metrics) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    # the engine counters of the first layers survive later jobs reusing
    # their shuffle output
    assert metrics["skew.shuffle_write_bytes"]["value"] > 0
    assert metrics["extract.tasks"]["value"] > 0
    spans = os.path.join(ROOT, ".perfbench", f"spans-{workload}-seed3.json")
    with open(spans) as f:
        assert {s["name"] for s in json.load(f)} >= {"build", "resume", "serve"}


def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
