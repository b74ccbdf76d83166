"""Self-test of the benchmark at sf0.001 (a few minutes).

    python3 -m pytest perfbench -q -p no:cacheprovider

Runs every workload for one timed pass, untraced and traced, and checks
that every metric named in BENCHMARK.json is printed with its unit, that
a wrong expected fingerprint shows up as a failed op, and that the
benchmark fails without printing a result when the package is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "0",
           "--trace", str(trace), "--sf", "0.001", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result


def _units(result: dict) -> dict:
    return {name: m["unit"] for name, m in result["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    result = _result(_bench(workload, 0))
    assert result["correct"] and result["failed"] == 0
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_and_wrong_fingerprint(workload, tmp_path):
    with open(os.path.join(BENCH_DIR, "expected.json")) as f:
        expected = json.load(f)
    if workload == "pipeline":
        expected["sf0.001"]["pipeline"]["rows"]["profile"] += 1
    else:
        expected["sf0.001"]["ops"]["ann_topk_lsh"]["hash"] = "0" * 64
    wrong = tmp_path / "expected.json"
    wrong.write_text(json.dumps(expected))
    result = _result(_bench(workload, 1, "--expected", str(wrong)))
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert result["failed"] == 1 and result["correct"] is False


def test_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
