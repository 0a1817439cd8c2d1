"""Self-tests of the benchmark: tiny-size runs of every workload print
every metric with its unit, a planted wrong answer is counted and fails
the run, and a checkout without the engine fails fast.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(ROOT, "perfbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int = 0, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, RUN if cwd == ROOT else os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--scale", "0.01", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["knn_cached", "geotag_write", "knn_large_dim",
                                      "point_lookups"])
def test_tiny_run_prints_every_end_to_end_metric(workload):
    proc = run(workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = result(proc)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    proc = run("geotag_write", 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = result(proc)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["checkpoint.run_s"]["value"] > 0
    assert out["metrics"]["finder.name_jobs_per_lookup"]["value"] >= 1


def test_planted_wrong_answer_raises_error_rate():
    proc = run("knn_cached", 1, "--plant-error")
    assert proc.returncode == 1
    out = result(proc)
    assert out["correct"] is False and out["failed"] == 1
    assert out["metrics"]["error_rate"]["value"] == pytest.approx(1 / out["attempted"])


def test_checkout_without_engine_fails_fast(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("knn_cached", cwd=str(tmp_path))
    assert proc.returncode not in (0, None)
    assert proc.stdout.strip() == ""
