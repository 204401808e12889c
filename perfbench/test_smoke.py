"""Smoke test of the benchmark itself: every workload once at a tiny size
(a 512-individual SGA, an 8-bit-per-split cGA, a 500-vector IVF table as
at sf0.001), untraced and traced, asserting that every metric
BENCHMARK.json names is printed with its unit and every check passes.
``cga_converge`` is included although BENCHMARK.json does not list it.

    python3 -m pytest perfbench/test_smoke.py -q
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
sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         # above the engine's 64-bit seed range, so run.py must fold it
         "--seed", "480243182", "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_prints_every_metric(workload: str, trace: int) -> None:
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))


def test_fails_without_the_package(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
