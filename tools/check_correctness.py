"""Local replica of the driver's t2 correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count
+ column names + order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

import builtins
import functools

# per-entry progress must survive pipe buffering (long oracles run for
# minutes; a block-buffered pipe shows nothing until exit)
print = functools.partial(builtins.print, flush=True)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from geneticalgorithmsusingmapreduce_spark.session import build_session  # noqa: E402
from geneticalgorithmsusingmapreduce_spark.sources.registry import (  # noqa: E402
    TABLES, table_path,
)
import __spark_entry__ as entrymod  # noqa: E402


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "tolist"):  # numpy array
        return tuple(_norm_cell(x) for x in v.tolist())
    return v

def _norm(df_pd):
    cols = sorted(df_pd.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df_pd[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


def main():
    args = sys.argv[1:]
    plain = "--plain" in args
    args = [a for a in args if a != "--plain"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if plain:
        # driver-sim: the grading driver builds its own session with
        # unknown configs — a bare session with ANSI on (Spark 4
        # default) and none of build_session's tuning is the strict
        # case; entries must self-supply any conf they need
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("correctness-check-plain")
            .config("spark.sql.ansi.enabled", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = build_session("correctness-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    # bounded + spillable: a 100-entry sweep in ONE process grew the
    # shared connection until allocation failed at entry #100 (the
    # all-pairs recall oracle) while the 48 GB Spark JVM held the rest
    # of the box — cap DuckDB and give it a temp dir so heavy oracles
    # spill instead of dying (r7; the entry passes alone in 19 s)
    con.execute("SET memory_limit='24GB'")
    con.execute("SET temp_directory='/tmp/gamr_duck_spill'")
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.isdir(p):
            # Spark-written layout (tools/gen_sf1.py): dir of part files
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    attempted = 0
    t_start = time.perf_counter()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        attempted += 1
        t_entry = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            # the root cause: a Python worker's traceback ends with it,
            # Spark's own errors lead with it (a plan or query context
            # follows)
            msg = str(e)
            lines = [ln for ln in msg.splitlines() if ln.strip()] or [""]
            cause = lines[-1] if "Traceback (most recent" in msg else lines[0]
            print(f"FAIL {name}: spark error {type(e).__name__}: {cause}")
            failed.append(name)
            continue
        t_spark = time.perf_counter() - t_entry
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows)")
            continue
        t_duck0 = time.perf_counter()
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        t_duck = time.perf_counter() - t_duck0
        sc, sr = _norm(sdf)
        dc, dr = _norm(ddf)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            failed.append(name)
        elif len(sr) != len(dr):
            print(f"FAIL {name}: rows {len(sr)} vs {len(dr)}")
            failed.append(name)
        elif sr != dr:
            bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            print(f"FAIL {name}: values differ at sorted-row {bad}:")
            print(f"  spark : {str(sr[bad])[:240]}")
            print(f"  duckdb: {str(dr[bad])[:240]}")
            failed.append(name)
        else:
            dt = time.perf_counter() - t_entry
            print(
                f"PASS {name} ({len(sr)} rows, {dt:.1f}s "
                f"[spark {t_spark:.1f} duck {t_duck:.1f}])"
            )
    # count only entries that actually RAN — a filtered invocation must
    # not print a full-gate-green tally
    print(
        f"\n{attempted - len(failed)}/{attempted} pass "
        f"({len(qs)} registered) in {time.perf_counter() - t_start:.0f}s"
    )
    if only and attempted < len(only):
        missing = sorted(only - set(qs))
        print(f"ERROR: unknown query name(s): {missing}")
        sys.exit(2)  # a filter matching nothing must not read as green
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
