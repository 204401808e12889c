"""The benchmark's workloads. Each runs in a closed loop of *units*; a unit
is one call sequence into the engine's public API, made of one or more
timed *operations*:

- ``sga_onemax``: a unit is ``plans.sga.run_sga`` on a 10,000-bit ONEMAX
  genome; an operation is one bred generation.
- ``cga_converge``: a unit is ``plans.cga.run_cga`` to its
  ``unconverged == 0`` stop rule; an operation is one generation, and
  ``op_s`` is the median of a fixed window of them (``op_window``).
- ``ivf_rebuild``: a unit and its one operation is one generation of an
  IVF index: ``rebuild_index`` (re-train, write, commit, delete the old
  generation) and the top-k serve over the generation read back.

Every workload checks its outputs; a unit whose check fails counts all of
its operations as failed.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import math
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np


@dataclass
class Unit:
    wall: float
    ops: list[float]  # operation wall times, seconds
    ok: bool
    traced: list[bool]  # per operation: were spans recorded


def explain_kb(df) -> float:
    """Size of the extended explain string (parsed, analyzed, optimized
    and physical plans), in KB."""
    jvm = df.sparkSession._jvm
    text = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "extended")
    return len(text.encode()) / 1e3


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    smoke: bool
    tracer: object  # tracing.Tracer; its wrappers exist only when tracing
    trace: bool


def traced_generation(gen: int) -> bool:
    """Generations traced in a traced run: alternating pairs, so traced
    and untraced ones both hold each parity of a cadence of two (the
    cGA's lazy checkpoint falls on every second generation)."""
    return gen // 2 % 2 == 1


# ---------------------------------------------------------------- SGA ----

class SgaOnemax:
    """Reference SGA on ONEMAX: 10,000 bits (157 longs, above the engine's
    LARGE_NL, so fitness and crossover run the numpy kernels), population
    ⌈x·n·log2 n⌉ with the reference CLI multiplier x = 0.25, and a pinned
    bucket count so a seed replays bit-identically on any core count."""

    name = "sga_onemax"
    min_units = min_traced_units = 1
    op_window = None
    n_buckets = 16
    sample_rows = 128
    warmup_generations = 2  # its trajectory is the same-seed repeat check

    def __init__(self, smoke: bool) -> None:
        from geneticalgorithmsusingmapreduce_spark.plans import sga

        self.n_bits = 2_048 if smoke else 10_000
        self.pop = 512 if smoke else sga.pop_from_multiplier(self.n_bits, 0.25)
        self.generations = 4 if smoke else 9
        self.kernel_shape = (self.pop, self.n_bits)
        self.trajectory: list | None = None
        self._latest = None
        self._check_ok = True
        self._gen_start: float | None = None
        self._ops: list[float] = []
        self._measuring = False

    def prepare(self, ctx: Ctx) -> None:
        pass

    def install(self, ctx: Ctx) -> None:
        """Hooks (not tracing): a generation is timed from its
        ``next_generation`` call to the free of the population it replaced,
        the span ``run_sga`` itself reports in whole milliseconds; the
        population freed while it is still the newest checkpoint is the
        final one, and a sample of it is checked before the free. When
        tracing, spans alternate by generation (``traced_generation``, so
        one run yields traced and untraced ones) and each generation's
        jobs get a job group."""
        from geneticalgorithmsusingmapreduce_spark import runtime
        from geneticalgorithmsusingmapreduce_spark.plans import sga

        lct, free = runtime.local_checkpoint_truncated, runtime.free_checkpoint
        breed = sga.next_generation

        def breed_hook(pop, n_bits, seed, generation, *a, **kw):
            self._gen_start = time.perf_counter()
            if ctx.trace and self._measuring:
                ctx.tracer.enabled = traced_generation(generation)
                ctx.spark.sparkContext.setJobGroup(
                    f"perfbench:{self.name}:gen{generation}",
                    f"generation {generation}",
                )
            return breed(pop, n_bits, seed, generation, *a, **kw)

        def checkpoint_hook(df, eager=True):
            self._latest = lct(df, eager)
            return self._latest

        def free_hook(df):
            if df is self._latest:
                enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
                try:
                    self._check_ok = self._popcount_ok(df)
                finally:
                    ctx.tracer.enabled = enabled
            elif self._gen_start is not None:
                self._ops.append(time.perf_counter() - self._gen_start)
                self._gen_start = None
            return free(df)

        sga.next_generation = breed_hook
        runtime.local_checkpoint_truncated = checkpoint_hook
        runtime.free_checkpoint = free_hook

    def _popcount_ok(self, pop) -> bool:
        rows = pop.select("genome", "fitness").limit(self.sample_rows).collect()
        if not rows:
            return False
        g = np.array([r.genome for r in rows], dtype=np.int64)
        ones = np.unpackbits(g.view(np.uint8), axis=1).sum(axis=1)
        return bool(np.array_equal(ones, [r.fitness for r in rows]))

    def _run(self, ctx: Ctx, pop: int, generations: int):
        from geneticalgorithmsusingmapreduce_spark.plans import sga

        # run_sga prints one telemetry line per generation
        with contextlib.redirect_stdout(io.StringIO()):
            return sga.run_sga(
                ctx.spark, self.n_bits, pop, seed=ctx.seed,
                max_generations=generations, n_buckets=self.n_buckets,
            )

    def warmup(self, ctx: Ctx) -> None:
        res = self._run(ctx, self.pop, self.warmup_generations)
        self.trajectory = [(s.best_fitness, s.pop) for s in res.stats]

    def unit(self, ctx: Ctx, k: int) -> Unit:
        self._check_ok = False
        self._latest, self._gen_start, self._ops = None, None, []
        self._measuring = True
        t0 = time.perf_counter()
        res = self._run(ctx, self.pop, self.generations)
        wall = time.perf_counter() - t0
        self._measuring = ctx.tracer.enabled = False
        traj = [(s.best_fitness, s.pop) for s in res.stats]
        ops = self._ops
        ok = (
            self._check_ok
            and traj[:self.warmup_generations] == self.trajectory
            and len(traj) == self.generations
            and len(ops) == self.generations - 1  # stats[0] is the initial population
            and all(b > 0 for b, _ in traj)
        )
        traced = [ctx.trace and traced_generation(g) for g in range(len(ops))]
        return Unit(wall, ops, ok, traced)

    def explain_kb(self, ctx: Ctx) -> float:
        """Plan size of one bred generation."""
        from geneticalgorithmsusingmapreduce_spark.plans import sga
        from geneticalgorithmsusingmapreduce_spark.operators import generate

        pop = sga.evaluate(
            generate.random_population(ctx.spark, self.pop, self.n_bits, ctx.seed),
            self.n_bits,
        )
        return explain_kb(sga.next_generation(
            pop, self.n_bits, ctx.seed, 0, self.n_buckets, pop_rows=self.pop
        ))


# ---------------------------------------------------------------- cGA ----

class CgaConverge:
    """Compact GA, tournament 4 and pop 10 as in the README example, on a
    4 × 16-bit sharded model run to the stop rule. Each generation is one
    tiny Spark job plus the convergence collect, so the time is job
    scheduling, planning and the collect round-trip.

    The driver JVM is still compiling hot code for hundreds of such
    generations, so their times fall as a run goes on. ``op_s`` is
    therefore the median of a fixed window, the first ``op_window``
    measured generations: a seed that converges later does not move it.
    The warm-up runs the first ``warmup_generations`` of the same seed,
    and the measured run must repeat that trajectory exactly."""

    name = "cga_converge"
    min_units = min_traced_units = 1  # generations alternate traced/untraced
    n_splits = 4
    t_size = 4
    pop = 10
    max_generations = 600

    def __init__(self, smoke: bool) -> None:
        self.bits_per_split = 8 if smoke else 16
        self.warmup_generations = 4 if smoke else 20
        self.op_window = 8 if smoke else 40
        self.kernel_shape = None
        self.trajectory: list | None = None
        self.converge: list[tuple[float, int]] = []  # (seconds, generations) per unit
        self._measuring = False
        self._starts: list[float] = []

    def prepare(self, ctx: Ctx) -> None:
        pass

    def install(self, ctx: Ctx) -> None:
        """A hook (not tracing) on ``sample_members``, the first call of
        every generation, times each generation to the next one's start.
        When tracing it also alternates spans by generation
        (``traced_generation``, so one run yields traced and untraced
        ones) and gives each generation's jobs a job group."""
        from geneticalgorithmsusingmapreduce_spark.operators import cga

        sample = cga.sample_members
        seed_base = ctx.seed * 1_000_033

        def sample_hook(vectors, t_size, gen_seed):
            if self._measuring:
                self._starts.append(time.perf_counter())
                if ctx.trace:
                    gen = gen_seed - seed_base
                    ctx.tracer.enabled = traced_generation(gen)
                    ctx.spark.sparkContext.setJobGroup(
                        f"perfbench:{self.name}:gen{gen}", f"generation {gen}"
                    )
            return sample(vectors, t_size, gen_seed)

        cga.sample_members = sample_hook

    def _run(self, ctx: Ctx, max_generations: int):
        from geneticalgorithmsusingmapreduce_spark.plans import cga as cga_plan

        res = cga_plan.run_cga(
            ctx.spark, self.n_splits, t_size=self.t_size, seed=ctx.seed,
            max_generations=max_generations, pop=self.pop,
            bits_per_split=self.bits_per_split, verbose=False,
        )
        return res, [(s.best_fitness, s.unconverged) for s in res.stats]

    def warmup(self, ctx: Ctx) -> None:
        _, self.trajectory = self._run(ctx, self.warmup_generations)

    def unit(self, ctx: Ctx, k: int) -> Unit:
        self._measuring, self._starts = True, []
        t0 = time.perf_counter()
        res, traj = self._run(ctx, self.max_generations)
        t1 = time.perf_counter()
        self._measuring = ctx.tracer.enabled = False
        ends = self._starts[1:] + [t1]
        ops = [b - a for a, b in zip(self._starts, ends)]
        self.converge.append((t1 - t0, len(ops)))
        ok = (
            res.converged and res.final_unconverged == 0
            and len(ops) == len(res.stats)
            and traj[:len(self.trajectory)] == self.trajectory
        )
        traced = [ctx.trace and traced_generation(s.generation) for s in res.stats]
        return Unit(t1 - t0, ops, ok, traced)

    def explain_kb(self, ctx: Ctx) -> float:
        """Plan size of one generation's model update."""
        from geneticalgorithmsusingmapreduce_spark.operators import cga, generate

        vectors = generate.init_prob_vectors(
            ctx.spark, self.n_splits, self.bits_per_split, num_partitions=1
        )
        return explain_kb(cga.update_vectors(vectors, 0, 1, ctx.seed, self.pop))


# ---------------------------------------------------------------- IVF ----

def write_embeddings(path: str, n: int, seed: int) -> None:
    """Seeded embeddings table in the sf schema: vec_id, 64 float32 values
    on a 1/1000 grid in [-0.577, 0.577], label."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vals = (rng.integers(0, 1155, size=n * 64) / 1000.0 - 0.577).astype(np.float32)
    offsets = np.arange(0, n * 64 + 1, 64, dtype=np.int32)
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(pa.array(offsets), pa.array(vals)),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })
    pq.write_table(table, path)


def _norm_cell(v):
    if isinstance(v, (float, np.floating)):
        return "NaN" if math.isnan(v) else f"{float(v):.10g}"
    if isinstance(v, np.integer):
        return int(v)
    return v


def rows_hash(columns: list[str], rows) -> str:
    """Order-independent hash: cells normalized as the repo's oracle
    checker does, columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in norm:
        h.update(line.encode())
    return h.hexdigest()


class IvfRebuild:
    """Generations of an IVF index over a seeded embeddings table of sf0.1
    size (2,000 × 64), the rebuild half of the ``emb_ivf_rebuild_gen``
    entry: the only workload that writes a durable partitioned store and
    reads it back. An operation is one index generation: re-train the
    centroids, write the int8 postings partitioned by list, commit the
    generation and delete the old one (``rebuild_index``), then read the
    serve tables back and serve the top-k. Its output must equal the
    entry's DuckDB oracle, the from-scratch build, every time.

    The streaming append that builds the entry's first generation costs
    about 35 s cold and 14 s warm, so a run that timed whole lifecycles
    could time only one of them. Generation 0 is an empty committed
    generation instead, and traced runs time one streaming append of
    three micro-batches after the measurement."""

    name = "ivf_rebuild"
    oracle_entry = "emb_ivf_rebuild_gen"
    min_units = min_traced_units = 5  # traced runs alternate untraced/traced
    op_window = None
    kernel_shape = None

    def __init__(self, smoke: bool) -> None:
        self.n_vectors = 500 if smoke else 2_000
        self.expected: str | None = None
        self.store: list[tuple[float, int]] = []  # (MB, files) per unit
        self._explain_kb = 0.0
        self.append_s: float | None = None

    def prepare(self, ctx: Ctx) -> None:
        self.data_dir = os.path.join(ctx.work, "data")
        self.index_dir = os.path.join(ctx.work, "ivf")
        os.makedirs(self.data_dir, exist_ok=True)
        write_embeddings(
            os.path.join(self.data_dir, "embeddings.parquet"), self.n_vectors, ctx.seed
        )
        self.expected = self._oracle_hash(ctx)

    def install(self, ctx: Ctx) -> None:
        from geneticalgorithmsusingmapreduce_spark.sources.registry import read_table

        self.emb = read_table(ctx.spark, self.data_dir, "embeddings")
        if ctx.trace:
            from geneticalgorithmsusingmapreduce_spark.streaming import ivf_rebuild

            # rebuild_index commits through this module attribute
            ctx.tracer.wrap(
                ivf_rebuild, "commit_generation",
                "streaming.ivf_rebuild.commit_generation",
            )

    def _oracle_hash(self, ctx: Ctx) -> str:
        import duckdb

        from geneticalgorithmsusingmapreduce_spark import catalog

        con = duckdb.connect()
        # nothing else runs yet: the JVM starts after prepare()
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        con.execute(f"SET temp_directory = '{os.path.join(ctx.work, 'duckdb')}'")
        path = os.path.join(self.data_dir, "embeddings.parquet")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
        df = con.sql(catalog.ORACLES[self.oracle_entry]).df()
        con.close()
        cols = list(df.columns)
        return rows_hash(cols, df.itertuples(index=False, name=None))

    def _generation(self, ctx: Ctx, gen: int):
        from geneticalgorithmsusingmapreduce_spark.operators import ann
        from geneticalgorithmsusingmapreduce_spark.streaming import ivf_rebuild as ir

        span, spark, d = ctx.tracer.span, ctx.spark, self.index_dir
        with span("streaming.ivf_rebuild.rebuild_index"):
            new_gen = ir.rebuild_index(spark, self.emb, d)
        with span("operators.ann.serve"):
            cents, postings = ir.read_serve_tables(spark, d)
            out = ann.ivf_serve_topk_int8(postings, cents)
            rows = out.collect()
        if new_gen != gen or ir.serve_generation(spark, d) != gen:
            return "bad-generation", out
        return rows_hash(out.columns, rows), out

    def _store_stats(self) -> tuple[float, int]:
        size, files = 0, 0
        for root, _, names in os.walk(self.index_dir):
            for n in names:
                if not n.startswith(".") and not n.startswith("_"):
                    size += os.path.getsize(os.path.join(root, n))
                    files += 1
        return size / 1e6, files

    def warmup(self, ctx: Ctx) -> None:
        """An empty committed generation 0, then generation 1 (about 18 s
        cold; a warm generation takes about 7 s)."""
        from geneticalgorithmsusingmapreduce_spark.streaming import ivf_rebuild as ir

        ir.commit_generation(ctx.spark, self.index_dir, 0)
        self._generation(ctx, 1)

    def unit(self, ctx: Ctx, k: int) -> Unit:
        ctx.tracer.enabled = ctx.trace and k % 2 == 1
        t0 = time.perf_counter()
        try:
            got, out = self._generation(ctx, k + 2)
            wall = time.perf_counter() - t0
            traced = ctx.tracer.enabled
        finally:
            ctx.tracer.enabled = False
        self.store.append(self._store_stats())
        if ctx.trace:
            self._explain_kb = explain_kb(out)
        return Unit(wall, [wall], got == self.expected, [traced])

    def after_measurement(self, ctx: Ctx) -> None:
        """Traced runs only: times the entry's streaming append, three
        micro-batches into a fresh store, without spans (its actions would
        count as the operations'). It is the session's first streaming
        query, so its time includes the streaming start."""
        from geneticalgorithmsusingmapreduce_spark.streaming import ivf_append

        d = os.path.join(ctx.work, "ivf-append")
        t0 = time.perf_counter()
        try:
            ivf_append.start_ivf_append(
                ctx.spark, self.emb, f"{d}/gen=0", n_batches=3, timeout_sec=120
            )
            self.append_s = time.perf_counter() - t0
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def explain_kb(self, ctx: Ctx) -> float:
        return self._explain_kb


WORKLOADS = {w.name: w for w in (SgaOnemax, CgaConverge, IvfRebuild)}
