"""Tracing for the traced (--trace 1) runs: spans around calls into the
engine's public functions, Spark event-log parsing, and the
`functions.bits` kernel micro-timing.

Everything here lives outside the package: spans come from wrappers the
benchmark installs on module attributes (the engine looks these up at
call time), job/stage/task numbers from the event log the benchmark
enables through its own session conf. Spans are kept in memory and
written once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index of the enclosing span, -1 at top level


class Tracer:
    """In-memory span recorder. ``enabled`` gates recording, so the same
    wrappers can stay installed while some operations run untraced (the
    traced-minus-untraced overhead comparison)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording span ``name``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, wrapper)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)

    # -- aggregation -------------------------------------------------------
    def total(self, names: set[str]) -> tuple[float, int]:
        """(seconds, calls) over spans in ``names``, counting a span only
        when no enclosing span is also in ``names`` (no double count of
        nested calls of the same kind)."""
        secs, calls = 0.0, 0
        for s in self.spans:
            if s.name not in names or self._has_ancestor_in(s, names):
                continue
            secs += s.end - s.start
            calls += 1
        return secs, calls

    def _has_ancestor_in(self, s: Span, names: set[str]) -> bool:
        p = s.parent
        while p >= 0:
            if self.spans[p].name in names:
                return True
            p = self.spans[p].parent
        return False

    def after(self, first: set[str], then: set[str], until: set[str]) -> float:
        """Seconds of the first top-level ``then`` span following each
        ``first`` span, before any ``until`` span (the stats collect that
        materializes a lazy checkpoint)."""
        secs, armed = 0.0, False
        for s in self.spans:
            if s.name in first:
                armed = True
            elif s.name in until:
                armed = False
            elif armed and s.name in then and not self._has_ancestor_in(s, then):
                secs += s.end - s.start
                armed = False
        return secs


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name, self.idx = tracer, name, -1

    def __enter__(self):
        t = self.t
        if t.enabled:
            parent = t._stack[-1] if t._stack else -1
            self.idx = len(t.spans)
            t.spans.append(Span(self.name, time.perf_counter(), 0.0, parent))
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx >= 0:
            self.t.spans[self.idx].end = time.perf_counter()
            self.t._stack.pop()
        return False


# Groups of wrapped names, shared by install() and the metric code.
ACTIONS = {
    "DataFrame.collect", "DataFrame.count", "DataFrame.toPandas",
    "DataFrame.take", "DataFrame.head", "DataFrame.first",
    "DataFrameWriter.save", "DataFrameWriter.parquet",
}
MATERIALIZE = {
    "runtime.local_checkpoint_truncated", "runtime.scoped_persist",
    "DataFrame.persist", "DataFrame.cache", "DataFrame.localCheckpoint",
    "DataFrame.checkpoint",
}
FREE = {"runtime.free_checkpoint", "DataFrame.unpersist"}
# the SGA generation's plan-building calls (no Spark job)
SGA_BUILDS = {"plans.sga.next_generation", "operators.fitness.with_fitness"}


def install(tracer: Tracer) -> None:
    """Wrap the public calls every workload can reach: DataFrame actions
    and materializations, the runtime lifecycle, and the GA plan and
    operator functions the drivers call through module attributes."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from geneticalgorithmsusingmapreduce_spark import runtime
    from geneticalgorithmsusingmapreduce_spark.operators import cga, fitness
    from geneticalgorithmsusingmapreduce_spark.plans import sga

    for name in ACTIONS | MATERIALIZE | FREE:
        cls, attr = name.split(".")
        if cls == "DataFrame":
            tracer.wrap(DataFrame, attr, name)
        elif cls == "DataFrameWriter":
            tracer.wrap(DataFrameWriter, attr, name)
        else:
            tracer.wrap(runtime, attr, name)
    tracer.wrap(sga, "next_generation", "plans.sga.next_generation")
    tracer.wrap(fitness, "with_fitness", "operators.fitness.with_fitness")
    for attr in ("winner_loser_best", "update_vectors"):
        tracer.wrap(cga, attr, f"operators.cga.{attr}")


# -- Spark event log --------------------------------------------------------

def event_log_path(event_dir: str, app_id: str) -> str | None:
    for name in os.listdir(event_dir):
        if app_id in name:
            return os.path.join(event_dir, name)
    return None


def parse_event_log(path: str, t0_ms: float, t1_ms: float) -> dict:
    """Totals over the jobs submitted, stages completed and tasks ended
    inside the wall-clock window [t0_ms, t1_ms] (epoch ms), plus the
    union of the window's stage spans (for the driver gap)."""
    tot = {
        "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "fetch_wait_s": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "bytes_read_mb": 0.0,
    }
    spans = []

    def inside(ms) -> bool:
        return ms is not None and t0_ms <= ms <= t1_ms

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tot["jobs"] += inside(ev.get("Submission Time"))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                a, b = info.get("Submission Time"), info.get("Completion Time")
                if inside(b) and a is not None:
                    tot["stages"] += 1
                    spans.append((max(a, t0_ms), b))
            elif kind == "SparkListenerTaskEnd":
                if not inside((ev.get("Task Info") or {}).get("Finish Time")):
                    continue
                m = ev.get("Task Metrics") or {}
                tot["tasks"] += 1
                tot["task_s"] += m.get("Executor Run Time", 0) / 1e3
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                tot["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0)
                ) / 1e6
                srm = m.get("Shuffle Read Metrics") or {}
                tot["shuffle_read_mb"] += (
                    srm.get("Local Bytes Read", 0)
                    + srm.get("Remote Bytes Read", 0)
                ) / 1e6
                tot["fetch_wait_s"] += srm.get("Fetch Wait Time", 0) / 1e3
                swm = m.get("Shuffle Write Metrics") or {}
                tot["shuffle_write_mb"] += swm.get("Shuffle Bytes Written", 0) / 1e6
                im = m.get("Input Metrics") or {}
                tot["bytes_read_mb"] += im.get("Bytes Read", 0) / 1e6
    tot["stage_union_s"] = _union(spans) / 1e3
    return tot


def _union(spans: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


# -- functions.bits kernel micro-timing --------------------------------------

def kernel_timings(rows: int, n_bits: int, seed: int) -> dict:
    """Single-threaded timings of the numpy kernels the SGA generation runs
    in its Python workers, at one generation's (rows × longs) shape. The
    bytes figure is computed from the array sizes, not measured."""
    import numpy as np
    import pandas as pd

    from geneticalgorithmsusingmapreduce_spark.functions import bits

    nl = bits.n_longs(n_bits)
    rng = np.random.default_rng(seed)
    hi = np.iinfo(np.int64).max
    pa = rng.integers(-hi, hi, size=(rows, nl), dtype=np.int64)
    pb = rng.integers(-hi, hi, size=(rows, nl), dtype=np.int64)
    keys = np.arange(rows, dtype=np.int64)
    cells = pd.Series(list(pa))

    t = time.perf_counter()
    c1, c2 = bits.np_crossover(pa, pb, seed, keys, n_bits)
    crossover_s = time.perf_counter() - t
    t = time.perf_counter()
    fit = bits.np_popcount_rows(c1)
    popcount_s = time.perf_counter() - t
    t = time.perf_counter()
    stacked = bits.np_stack_cells(cells)
    stack_s = time.perf_counter() - t
    if fit.shape != (rows,) or stacked.shape != pa.shape or c2.shape != pa.shape:
        raise RuntimeError("functions.bits kernels returned unexpected shapes")

    mat = rows * nl * 8
    # crossover: mask written + read, both parents read, both children
    # written; popcount: one matrix read; stack: cells read, matrix written
    moved = 6 * mat + mat + 2 * mat
    return {
        "functions.bits.crossover_s": crossover_s,
        "functions.bits.popcount_s": popcount_s,
        "functions.bits.stack_cells_s": stack_s,
        "functions.bits.bytes_mb": moved / 1e6,
    }
