"""Self-test of the benchmark: every workload at toy size, traced and untraced.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Run from the repository root. Takes about four minutes on four cores.
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
sys.path.insert(0, HERE)

import oracle  # noqa: E402
from tracing import parse_metric_total  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _parse(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    info = json.loads(lines[-2].split(" | ", 1)[1])
    return result, info


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_metrics_and_outputs(workload):
    untraced, info0 = _parse(_run(workload, 0))
    traced, info1 = _parse(_run(workload, 1))
    for result, wanted in ((untraced, SPEC["end_to_end"]), (traced, SPEC["per_layer"])):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
        assert {m["name"]: m["unit"] for m in wanted} == {k: v["unit"] for k, v in result["metrics"].items()}
        assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    for m in SPEC["end_to_end"]:
        assert untraced["metrics"][m["name"]]["value"] > 0, m["name"]
    assert info0["failed_ratio"] == 0 == info1["failed_ratio"]
    assert info0["output_digest"] == info1["output_digest"]


def test_fails_without_the_engine(tmp_path):
    """A checkout holding only the benchmark exits non-zero without a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_result_hash_ignores_row_and_column_order():
    a = oracle.result_hash(["x", "y"], [(1, None), (2, 0.5)])
    b = oracle.result_hash(["y", "x"], [(0.5, 2), (None, 1)])
    assert a == b
    assert a != oracle.result_hash(["x", "y"], [(1, None), (2, 0.25)])
    assert oracle.result_hash(["x"], [(1,)]) != oracle.result_hash(["x"], [(1.0,)])


def test_parse_metric_total():
    assert parse_metric_total("total (min, med, max (stageId: taskId))\n1.5 s (0.1 s, 0.2 s, 1.0 s (stage 2.0: task 7))") == 1.5
    assert parse_metric_total("2.0 KiB") == 2 / 1024
    assert parse_metric_total("total (min, med, max)\n120 ms (1 ms, 2 ms, 3 ms)") == pytest.approx(0.12)
