"""Time, trace and A/B catalog entries with bench.py's protocol:
clearCache, the noop sink, min-of-N, and a Python + JVM GC after each run.

    python tools/time_entry.py [--runs N] [--conf KEY=VALUE ...]
                               [--trace | --ab KEY=A,B] <entry> [entry ...]

Env: SPARK_GRAFT_SF_DIR (the sf dir) and SPARK_GRAFT_CPUS (the
session's cores), with bench.py's defaults. ``--conf`` sets a session
conf at build time; it may repeat.

Plain: one ``[time]`` line per entry on stderr, then one JSON line
``{entry: min_s}`` on stdout.

``--trace``: the session writes a Spark event log, and each entry prints
one JSON record for its fastest run: ``build_s`` (building the DataFrame;
ladder rungs run their eager actions here), ``action_s`` (the noop
write), the jobs, stages, tasks, task, GC and shuffle fetch-wait
seconds and shuffle, spill and bytes-read MB that perfbench's event-log
parser finds in that run's time window, ``driver_gap_s`` (the window's
wall time minus the union of its stage spans) and ``explain_kb`` (the
extended explain).

``--ab KEY=A,B``: the arms strictly alternate, N runs each, and each
entry prints one JSON record with each arm's minimum and the B/A ratio.
A conf the live session can change (``spark.conf.isModifiable``) is
switched inside this session, after one warm-up run per entry. Any other
(a core conf such as spark.io.compression.codec) gets a fresh subprocess
session per (arm, run), which times every entry min-of-2 (its first run
is cold) with ``--conf KEY=arm``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from geneticalgorithmsusingmapreduce_spark import catalog  # noqa: E402
from geneticalgorithmsusingmapreduce_spark.session import build_session  # noqa: E402
from perfbench.tracing import event_log_path, parse_event_log  # noqa: E402
from perfbench.workloads import explain_kb  # noqa: E402

SUBPROCESS_RUNS = 2


def timed_runs(spark, fn, sf_dir: str, runs: int, explain: bool = False):
    """``runs`` clearCache'd builds and noop writes of one entry, each
    followed by a Python and a JVM GC: the ContextCleaner deletes a
    finished run's shuffle files only once the driver collects its plan
    objects (at sf100 three runs of one heavy entry left >39 GB of dead
    spill). One dict per run: run_s, build_s, action_s, the epoch-ms
    window, and explain_kb when asked."""
    readings = []
    for _ in range(runs):
        spark.catalog.clearCache()
        w0, t0 = time.time(), time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        r = {"run_s": t2 - t0, "build_s": t1 - t0, "action_s": t2 - t1,
             "window": (w0 * 1e3, time.time() * 1e3)}
        if explain:
            r["explain_kb"] = explain_kb(df)
        readings.append(r)
        del df
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    return readings


def time_entry(spark, fn, sf_dir: str, runs: int = 3) -> float:
    """bench.py's per-entry reading: the minimum wall seconds of ``runs``."""
    return round(min(r["run_s"] for r in timed_runs(spark, fn, sf_dir, runs)), 4)


def event_log_conf(event_dir: str) -> dict[str, str]:
    """The uncompressed, unrolled event log perfbench's traced runs write."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def trace_record(name: str, run: dict, event_log: str) -> dict:
    """One entry's layer record from its run's window of the event log
    (parse after the session stops: the log is flushed on stop)."""
    ev = parse_event_log(event_log, *run["window"])
    wall_s = (run["window"][1] - run["window"][0]) / 1e3
    rec = {"entry": name, "build_s": run["build_s"], "action_s": run["action_s"]}
    rec.update((k, v) for k, v in ev.items() if k != "stage_union_s")
    rec["driver_gap_s"] = wall_s - ev["stage_union_s"]
    rec["explain_kb"] = run["explain_kb"]
    return {k: round(v, 4) if isinstance(v, float) else v for k, v in rec.items()}


def ab(spark, key: str, arms: tuple[str, str], names: list[str],
       sf_dir: str, runs: int) -> list[dict]:
    """Strictly alternating A/B of one conf; one record per entry."""
    best = {n: {arm: float("inf") for arm in arms} for n in names}
    if spark.conf.isModifiable(key):
        mode, was = "in-session", spark.conf.get(key, None)
        try:
            for n in names:
                fn = catalog.QUERIES[n]
                spark.conf.set(key, arms[0])
                time_entry(spark, fn, sf_dir, 1)  # warm-up
                for _ in range(runs):
                    for arm in arms:
                        spark.conf.set(key, arm)
                        best[n][arm] = min(best[n][arm],
                                           time_entry(spark, fn, sf_dir, 1))
        finally:
            if was is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, was)
    else:
        mode = "subprocess"
        for _ in range(runs):
            for arm in arms:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--runs", str(SUBPROCESS_RUNS), "--conf", f"{key}={arm}",
                     *names],
                    capture_output=True, text=True, cwd=REPO,
                    env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
                )
                if r.returncode:
                    raise RuntimeError(f"{key}={arm} session failed:\n"
                                       + r.stderr[-2000:])
                got = json.loads(r.stdout.strip().splitlines()[-1])
                for n, s in got.items():
                    best[n][arm] = min(best[n][arm], s)
    a, b = arms
    return [
        {"entry": n, "conf": key, "mode": mode, "arms": v,
         "b_over_a": round(v[b] / v[a], 3)}
        for n, v in best.items()
    ]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("entries", nargs="+")
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--trace", action="store_true")
    mode.add_argument("--ab", metavar="KEY=A,B")
    args = p.parse_args()
    unknown = [n for n in args.entries if n not in catalog.QUERIES]
    if unknown:
        p.error(f"unknown entries: {unknown}")
    if any("=" not in kv for kv in args.conf):
        p.error("--conf takes KEY=VALUE")
    if args.ab and ("=" not in args.ab or args.ab.split("=", 1)[1].count(",") != 1):
        p.error("--ab takes KEY=A,B")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    conf = {"spark.ui.showConsoleProgress": "false"}
    conf.update(kv.split("=", 1) for kv in args.conf)
    events = tempfile.mkdtemp(prefix="gamr-events-") if args.trace else None
    if events:
        conf.update(event_log_conf(events))
    spark = build_session("gamr-time-entry", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.ab:
            key, vals = args.ab.split("=", 1)
            for rec in ab(spark, key, tuple(vals.split(",")), args.entries,
                          sf_dir, args.runs):
                print(json.dumps(rec), flush=True)
            return
        readings = {}
        for n in args.entries:
            rs = timed_runs(spark, catalog.QUERIES[n], sf_dir, args.runs,
                            explain=args.trace)
            readings[n] = min(rs, key=lambda r: r["run_s"])
            print(f"[time] {n}: " + " ".join(f"{r['run_s']:.2f}" for r in rs)
                  + f" -> min {readings[n]['run_s']:.2f}s",
                  file=sys.stderr, flush=True)
        if not events:
            print(json.dumps({n: round(r["run_s"], 4)
                              for n, r in readings.items()}), flush=True)
            return
        app_id = spark.sparkContext.applicationId
        spark.stop()
        log = event_log_path(events, app_id)
        for n, r in readings.items():
            print(json.dumps(trace_record(n, r, log)), flush=True)
    finally:
        spark.stop()
        if events:
            shutil.rmtree(events, ignore_errors=True)


if __name__ == "__main__":
    main()
