"""gamr benchmark: one workload per invocation, one closed loop, one line
of JSON.

    python3 perfbench/run.py --workload sga_onemax --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload (see workloads.py) runs its
units one after another from this single driver process on
``local[nproc]`` until ``--seconds`` have passed and its minimum unit
count is met. The effective configuration is pinned here, not in the
package: cpus = nproc, a driver heap below physical RAM, console
progress off, the repo root on the Python workers' path, and every
Spark/temp directory inside ``.perfbench_work/`` of the checkout.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (spans, Spark event log, kernel micro-timing; see tracing.py)
and writes the spans to ``.perfbench_work/traces/``. The last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the effective configuration (cpus, 1-minute load average at
start, CPUs busy elsewhere, contended flag). ``--scale smoke`` shrinks
every workload for the smoke test. Without the package next to it the benchmark exits with
code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "geneticalgorithmsusingmapreduce_spark"
DEADLINE_S = 150  # no new unit starts when it would end past this
# The engine folds a seed with the generation index and a stream salt into
# one 64-bit literal, about seed * 10**12, which overflows (an ANSI
# CAST_OVERFLOW error) for seeds above about 9 * 10**6. The benchmark maps
# --seed into [1, SEED_RANGE] before the engine or the input tables see it.
SEED_RANGE = 1_000_000

END_TO_END = {"setup_s": "s", "op_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def _cpu_jiffies() -> tuple[int, int]:
    """(busy including steal, total) jiffies over all CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    busy = user + nice + system + irq + softirq + steal
    return busy, busy + idle + iowait


def effective_config() -> dict:
    """Called before this run starts any process. The 1-minute load
    average still carries the previous back-to-back run, so ``contended``
    is judged from a half-second sample of what else keeps the CPUs busy
    (or steals them from this machine) right now."""
    cpus = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    b0, t0 = _cpu_jiffies()
    time.sleep(0.5)
    b1, t1 = _cpu_jiffies()
    busy_cpus = os.cpu_count() * (b1 - b0) / max(1, t1 - t0)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {
        "cpus": cpus,
        "load1": load1,
        "busy_cpus": round(busy_cpus, 2),
        # something else kept at least a quarter of the cores busy
        "contended": busy_cpus > 0.25 * cpus,
        "driver_mem": f"{max(1, min(4, int(ram_gb // 3)))}g",
    }


def configure(work: str, cfg: dict, trace: bool) -> dict:
    """Process environment and session conf for the run; returns the
    session's extra conf. Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "events")):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cfg["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": cfg["driver_mem"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the JVM that spark-submit starts to build the driver's command
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        # marks this run's JVM and Python workers for the exit wait
        "PERFBENCH_RUN": work,
    })
    import tempfile

    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": ROOT,
        # no hsperfdata file: a JVM writes it under /tmp whatever
        # java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def _run_pids(marker: str) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if f"PERFBENCH_RUN={marker}".encode() in f.read():
                    pids.append(int(name))
        except OSError:
            continue
    return pids


def shutdown(spark, marker: str) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this run
    started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while _run_pids(marker) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _run_pids(marker):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads  # noqa: E402  (after the package check)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    t_proc = time.perf_counter()
    cfg = effective_config()
    trace = bool(args.trace)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = configure(work, cfg, trace)

    import tracing  # noqa: E402

    smoke = args.scale == "smoke"
    wl = workloads.WORKLOADS[args.workload](smoke)
    tracer = tracing.Tracer()
    spark = None
    try:
        seed = 1 + args.seed % SEED_RANGE
        ctx = workloads.Ctx(None, seed, work, smoke, tracer, trace)
        wl.prepare(ctx)

        from geneticalgorithmsusingmapreduce_spark.session import build_session

        t0 = time.perf_counter()
        spark = build_session(f"perfbench-{args.workload}", extra_conf=conf)
        build_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        if trace:
            tracing.install(tracer)
        wl.install(ctx)

        sc = spark.sparkContext
        attempted = failed = 0
        units = []
        sc.setJobGroup(f"perfbench:{wl.name}:warmup", "cold first unit")
        t0 = time.perf_counter()
        try:
            wl.warmup(ctx)
        except Exception:  # noqa: BLE001  (counted as a failed operation)
            traceback.print_exc()
            attempted, failed = 1, 1
        warmup_s = time.perf_counter() - t0

        need = wl.min_traced_units if trace else wl.min_units
        t_window0 = time.time()
        t_meas = time.perf_counter()
        ops: list[float] = []
        while not failed:
            k = len(units)
            sc.setJobGroup(f"perfbench:{wl.name}:unit{k}", f"unit {k}")
            try:
                u = wl.unit(ctx, k)
            except Exception:  # noqa: BLE001  (counted as a failed operation)
                traceback.print_exc()
                attempted += 1
                failed += 1
                break
            units.append(u)
            ops += u.ops
            attempted += len(u.ops)
            failed += 0 if u.ok else len(u.ops)
            now = time.perf_counter()
            done = k + 1 >= need and len(ops) >= (wl.op_window or 0)
            if done and now - t_meas >= args.seconds:
                break
            if done and now - t_proc + u.wall > DEADLINE_S:
                break
        t_window1 = time.time()
        sc.setJobGroup(f"perfbench:{wl.name}:after", "post-measurement")
        if trace and not failed and hasattr(wl, "after_measurement"):
            attempted += 1
            try:
                wl.after_measurement(ctx)
            except Exception:  # noqa: BLE001  (counted as a failed operation)
                traceback.print_exc()
                failed += 1

        ops = ops or [0.0]
        if not trace:
            values = {
                "setup_s": build_s + warmup_s,
                "op_s": statistics.median(ops[:wl.op_window]),
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        else:
            layer = per_layer(wl, ctx, units, ops, build_s, warmup_s)
            layer["session.peak_rss_mb"] = peak_rss_mb()
            app_id = sc.applicationId
            spark.stop()
            layer.update(event_metrics(
                work, app_id, len(ops), (t_window0 * 1e3, t_window1 * 1e3)
            ))
            if wl.name == "cga_converge":
                layer["plans.cga.jobs_per_gen"] = layer["plans.jobs"]
            metrics = {
                k: {"value": layer[k], "unit": unit}
                for k, unit in PER_LAYER.items()
            }
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(
                traces, f"{wl.name}-seed{args.seed}-{os.getpid()}.json"
            ))
    finally:
        shutdown(spark, work)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"config": cfg}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.driver_gap_s": "s",
    "plans.explain_kb": "KB",
    "plans.sga.build_s": "s",
    "plans.cga.jobs_per_gen": "count",
    "plans.cga.converge_s": "s",
    "plans.cga.generations": "count",
    "operators.action_s": "s",
    "operators.task_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.fetch_wait_s": "s",
    "operators.spill_mb": "MB",
    "operators.cga.winner_loser_s": "s",
    "operators.cga.update_s": "s",
    "operators.ann.serve_s": "s",
    "runtime.checkpoint_s": "s",
    "runtime.free_s": "s",
    "runtime.materializations": "count",
    "functions.bits.crossover_s": "s",
    "functions.bits.popcount_s": "s",
    "functions.bits.stack_cells_s": "s",
    "functions.bits.bytes_mb": "MB",
    "streaming.ivf_append.append_s": "s",
    "streaming.ivf_rebuild.commit_s": "s",
    "streaming.ivf_rebuild.rebuild_s": "s",
    "sources.bytes_read_mb": "MB",
    "sources.store_mb": "MB",
    "sources.store_files": "count",
    "trace.op_s": "s",
    "trace.overhead_s": "s",
    "trace.eventlog_mb": "MB",
}


def per_layer(wl, ctx, units, ops, build_s, warmup_s) -> dict:
    """Span, kernel and store metrics, per traced operation. Layers the
    workload never calls read 0."""
    import tracing

    tr = ctx.tracer
    n = max(1, sum(sum(u.traced) for u in units))
    on = [x for u in units for x, t in zip(u.ops, u.traced) if t]
    off = [x for u in units for x, t in zip(u.ops, u.traced) if not t]

    def secs(*names: str) -> float:
        return tr.total(set(names))[0] / n

    lct = {"runtime.local_checkpoint_truncated"}
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({
        "session.build_s": build_s,
        "session.warmup_s": warmup_s,
        "plans.sga.build_s": tr.total(tracing.SGA_BUILDS)[0] / n,
        "operators.action_s": tr.total(tracing.ACTIONS)[0] / n,
        "operators.cga.winner_loser_s": secs("operators.cga.winner_loser_best"),
        "operators.cga.update_s": secs("operators.cga.update_vectors"),
        "operators.ann.serve_s": secs("operators.ann.serve"),
        "runtime.checkpoint_s": (
            tr.total(tracing.MATERIALIZE)[0]
            + tr.after(lct, tracing.ACTIONS, tracing.FREE)
        ) / n,
        "runtime.free_s": tr.total(tracing.FREE)[0] / n,
        "runtime.materializations": tr.total(tracing.MATERIALIZE)[1] / n,
        "streaming.ivf_rebuild.commit_s": secs("streaming.ivf_rebuild.commit_generation"),
        "streaming.ivf_rebuild.rebuild_s": secs("streaming.ivf_rebuild.rebuild_index"),
        "trace.op_s": statistics.median(ops),
        "trace.overhead_s": (
            statistics.median(on) - statistics.median(off) if on and off else 0.0
        ),
        "plans.explain_kb": wl.explain_kb(ctx),
    })
    if getattr(wl, "append_s", None) is not None:
        out["streaming.ivf_append.append_s"] = wl.append_s
    if getattr(wl, "store", None):
        out["sources.store_mb"] = statistics.median(s[0] for s in wl.store)
        out["sources.store_files"] = statistics.median(s[1] for s in wl.store)
    if getattr(wl, "converge", None):
        out["plans.cga.converge_s"] = statistics.median(c[0] for c in wl.converge)
        out["plans.cga.generations"] = statistics.median(c[1] for c in wl.converge)
    if wl.kernel_shape:
        out.update(tracing.kernel_timings(*wl.kernel_shape, ctx.seed))
    return out


def event_metrics(work, app_id, n_ops, window) -> dict:
    """Event-log metrics of the measured window, per operation."""
    import tracing

    events = os.path.join(work, "events")
    path = tracing.event_log_path(events, app_id)
    ev = tracing.parse_event_log(path, *window)
    n = max(1, n_ops)
    wall_s = (window[1] - window[0]) / 1e3
    return {
        "plans.jobs": ev["jobs"] / n,
        "plans.stages": ev["stages"] / n,
        "plans.driver_gap_s": (wall_s - ev["stage_union_s"]) / n,
        "operators.task_s": ev["task_s"] / n,
        "operators.gc_s": ev["gc_s"] / n,
        "operators.shuffle_write_mb": ev["shuffle_write_mb"] / n,
        "operators.shuffle_read_mb": ev["shuffle_read_mb"] / n,
        "operators.fetch_wait_s": ev["fetch_wait_s"] / n,
        "operators.spill_mb": ev["spill_mb"] / n,
        "sources.bytes_read_mb": ev["bytes_read_mb"] / n,
        "trace.eventlog_mb": os.path.getsize(path) / 1e6,
    }


if __name__ == "__main__":
    sys.exit(main())
