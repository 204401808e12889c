"""Reference-CLI parity (cli.py): the three mains' argv contracts
(``reference README:32-54``) dispatch to the Spark drivers with the
reference's own pop-sizing arithmetic."""

from __future__ import annotations

import math

import pytest

from geneticalgorithmsusingmapreduce_spark import cli
from geneticalgorithmsusingmapreduce_spark.plans.cga import CgaResult
from geneticalgorithmsusingmapreduce_spark.plans.sga import SgaResult


def test_ga_five_args(spark):
    # `ga 2 4 64 3 1` — 64-bit ONEMAX, pop = ceil(1*64*log2 64) = 384,
    # 3 iterations (reference MapReduce.java:450-456 arg semantics)
    res = cli.main(["ga", "2", "4", "64", "3", "1"], spark=spark)
    assert isinstance(res, SgaResult)
    assert len(res.stats) >= 1
    assert res.stats[0].pop == math.ceil(64 * math.log2(64))
    assert 0 < res.best_fitness <= 64
    assert res.generations <= 3


def test_cga_seven_args(spark):
    # `cga 2 2 64 5 1 4 0` — 64-bit vector over 2 splits, T=4, mult 1
    # (reference CGA.java:510-516); pop formula CGA.java:331-335
    res = cli.main(["cga", "2", "2", "64", "5", "1", "4", "0"], spark=spark)
    assert isinstance(res, CgaResult)
    assert res.generations <= 5
    assert res.final_unconverged >= 0


def test_cga_reference_sizing_arithmetic():
    # CGA.java:331-335 with its own constants (LONG_BITS=64,
    # LONGS_PER_ARRAY=12 -> 11 payload longs): numSplits is per map,
    # tot pads strLen up to 704-bit shards, pop uses the REQUESTED
    # strLen times log2 of the PADDED capacity.
    from geneticalgorithmsusingmapreduce_spark.plans.cga import (
        reference_cli_sizing,
    )

    # README example `cga 4 4 1000 10 10 4 0`
    spm, total, tot, pop = reference_cli_sizing(1000, 4, 10)
    assert (spm, total, tot) == (1, 4, 2816)
    assert pop == math.ceil(1000 * math.log2(2816)) * 10 == 114600
    # a strLen needing >1 split per map
    spm, total, tot, pop = reference_cli_sizing(10000, 4, 10)
    assert (spm, total, tot) == (4, 16, 11264)
    assert pop == math.ceil(10000 * math.log2(11264)) * 10


def test_cga_cli_prints_reference_telemetry(spark, capsys):
    # the reference prints per-map "Splits = N" then "Pop = N"
    # (CGA.java:332,335) — parity on the printed lines themselves
    cli.main(["cga", "2", "2", "64", "1", "1", "4", "0"], spark=spark)
    out = capsys.readouterr().out
    assert "Splits = 1" in out  # ceil(64/2/64/11) = 1 per map
    assert f"Pop = {math.ceil(64 * math.log2(1408))}" in out


def test_inc_ga_three_args(spark):
    # `inc_ga 2 4 2` — the incremental main's hardcoded 64,000-bit /
    # pop-6000 scale (reference incr_ga/MapReduce.java:31-32), 2 batches
    state = cli.main(["inc_ga", "2", "4", "2"], spark=spark)
    assert state.generation == 2
    assert state.history and state.history[-1][1] > 0  # best fitness
    row = state.population.limit(1).collect()[0]
    assert len(row["genome"]) == cli.INC_GA_BITS // 64


@pytest.mark.parametrize(
    "argv",
    [
        [],  # no command
        ["nope", "1"],  # unknown command
        ["ga", "4", "4", "10000", "100"],  # 4 of 5 args
        ["cga", "4", "4", "1000", "10", "10", "4"],  # 6 of 7 args
        ["inc_ga", "4", "4"],  # 2 of 3 args
        ["ga", "4", "4", "x", "100", "10"],  # non-integer
        ["ga", "0", "4", "64", "3", "1"],  # zero maps
        ["ga", "4", str((1 << 20) + 1), "64", "3", "1"],  # > 2^20 buckets
    ],
)
def test_usage_errors(spark, argv):
    with pytest.raises(SystemExit):
        cli.main(argv, spark=spark)


def test_cga_iteration_relabel(spark):
    # the reference's 7th arg resumes its counter at <iter>; the engine
    # relabels reported iterations to match (cli.py docstring)
    res = cli.main(["cga", "2", "2", "64", "3", "1", "4", "5"], spark=spark)
    assert res.stats and res.stats[0].generation == 5
    assert res.generations >= 5


def test_python_dash_m_subprocess():
    # the literal `python -m geneticalgorithmsusingmapreduce_spark ...`
    # invocation (reference README:40-41 shape at toy scale) — exercises
    # __main__.py and the CLI-built session end to end
    import os
    import subprocess
    import sys

    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, "-m", "geneticalgorithmsusingmapreduce_spark",
         "ga", "2", "2", "64", "2", "1"],
        capture_output=True, text=True, timeout=300, env=env, cwd=repo,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Population = 384" in out.stdout
    assert "GA:0:64:" in out.stdout  # telemetry line (MapReduce.java:432)
