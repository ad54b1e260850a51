"""Tests of the benchmark itself, at a tiny input size.

    python -m pytest perfbench/ -q

Each case starts one engine process, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SCALE = "0.002"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--seed", "7", "--seconds", "1", "--scale", SCALE, *args],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_prints_every_end_to_end_metric_with_its_unit(workload):
    out = result(bench("--workload", workload, "--trace", "0"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    # the traced run also runs and checks the multistage jobs
    out = result(bench("--workload", "spatial_join", "--trace", "1"))
    assert out["correct"] and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_corrupted_output_row_counts_as_failed_pass():
    out = result(bench("--workload", "spatial_join", "--trace", "0",
                       "--corrupt"))
    assert not out["correct"]
    assert out["failed"] == 1
    ok = out["metrics"]["ok_frac"]["value"]
    assert ok == pytest.approx((out["attempted"] - 1) / out["attempted"])


def test_fails_without_result_when_the_engine_is_absent(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = bench("--workload", "spatial_join", "--trace", "0",
                 cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
