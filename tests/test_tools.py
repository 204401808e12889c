"""The scripts under tools/: every name they import from the package (or
from perfbench and each other) still exists, and time_entry's --trace and
--ab modes produce their records."""

from __future__ import annotations

import ast
import glob
import importlib
import json
import os
import subprocess
import sys

import pytest

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
LOCAL_ROOTS = ("geneticalgorithmsusingmapreduce_spark", "perfbench", "tools")
TRACE_KEYS = {
    "build_s", "action_s", "jobs", "stages", "tasks", "task_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "bytes_read_mb",
    "driver_gap_s", "explain_kb",
}


def _local_imports(path):
    """(module, name or None) for every import of a local module."""
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.ImportFrom) and node.module and not node.level:
            if node.module.split(".")[0] in LOCAL_ROOTS:
                yield from ((node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in LOCAL_ROOTS:
                    yield a.name, None


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports_resolve(path):
    for module, name in _local_imports(path):
        mod = importlib.import_module(module)
        if name is not None and not hasattr(mod, name):
            importlib.import_module(f"{module}.{name}")  # a submodule


def test_time_entry_trace_record():
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR,
           "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "time_entry.py"),
         "--runs", "1", "--trace", "population_generate"],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert rec["entry"] == "population_generate"
    assert TRACE_KEYS <= rec.keys()
    assert rec["jobs"] > 0 and rec["tasks"] > 0


def test_time_entry_ab_in_session(spark):
    from tools import time_entry

    key = "spark.sql.adaptive.enabled"
    was = spark.conf.get(key)
    (rec,) = time_entry.ab(
        spark, key, ("true", "false"), ["population_generate"], SF_DIR, runs=1
    )
    assert rec["mode"] == "in-session"
    assert set(rec["arms"]) == {"true", "false"}
    assert rec["b_over_a"] > 0
    assert spark.conf.get(key) == was, "the A/B must restore the conf"
