"""Simple GA: one-generation plan + iterative driver (SURVEY.md §3.1).

Reference lifecycle (``reference src/edu/illinois/ga/MapReduce.java:275-438``):
one MapReduce job per generation — map evaluates fitness + tracks a running
max, shuffle randomly partitions AND randomly sorts, reduce runs the
windowed tournament + pairing + crossover, driver folds side-files for the
global best and stops at best ≥ nBits−10 (``:433-434``).

Spark plan per generation, one route at every population size: the
seeded bucket key, one exchange of the buckets onto ``part % P``
partitions sorted by (part, skey, id), and ONE streaming Arrow kernel
per partition that is the reference reducer (W1 tournament, W2
pairing, P4 crossover and P2 fitness in numpy,
operators/selection.breed_children). The kernel holds one Arrow batch
plus O(T) carried rows, so worker memory does not grow with the bucket:

    population --(O1/X1 seeded skey+bucket)--> exchange(part % P) -->
    sort(part, skey, id) --> breed kernel --> evaluated children

The A1/A2 best-individual stats ride the same evaluated DataFrame as a
separate 1-row agg (partial map-side max → 32-row final exchange — the
side-channel files S4/S5 and driver fold of the reference collapse into
this). The loop checkpoints each generation and frees the last
(lineage truncation the reference got implicitly from HDFS
materialization, SURVEY.md §7.4.3).
"""

from __future__ import annotations

import random as _random
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import runtime
from ..functions import bits
from ..operators import crossover, fitness as fit_ops, generate, selection, shuffle


def evaluate(pop: DataFrame, n_bits: int) -> DataFrame:
    return fit_ops.with_fitness(pop, nl=bits.n_longs(n_bits))


def pop_from_multiplier(n_bits: int, x: float) -> int:
    """Population sizing from the reference CLI: pop = ceil(x·n·log2 n)
    (``reference src/edu/illinois/ga/MapReduce.java:454`` — the 5th CLI arg
    is the multiplier x; same formula for cGA at ``CGA.java:331-335``)."""
    import math

    return math.ceil(x * n_bits * math.log2(n_bits))


def default_n_buckets(spark: SparkSession) -> int:
    """Tournament bucket count scaled to the cluster, not a literal:
    O(cores·4) keeps every bucket's window sort core-local while bounding
    the wrap-around head re-read (see operators/selection.py module doc).
    On 1000 executors this tracks total cores automatically.

    Reproducibility caveat: n_buckets feeds the tournament shuffle key,
    so the same seed evolves DIFFERENT (equally valid) populations under
    different bucket counts — a seeded run meant to be replayed across
    machines must pin ``n_buckets`` explicitly (the correctness-gate
    entries do; this dynamic default serves the drivers/bench, where
    per-host throughput is the point)."""
    return spark.sparkContext.defaultParallelism * 4


def _check_buckets(n_buckets: int) -> None:
    """The pair key part·2^40 + pair (operators/crossover) holds
    MAX_BUCKETS buckets; past 2^22 the child ids pk·2 + c wrap int64, and
    0 buckets has no bucket to route to."""
    if not 1 <= n_buckets <= crossover.MAX_BUCKETS:
        raise ValueError(
            f"n_buckets must be in [1, {crossover.MAX_BUCKETS}], "
            f"got {n_buckets}"
        )


def next_generation(
    pop: DataFrame,
    n_bits: int,
    seed: int | None,
    generation: int,
    n_buckets: int = 32,
    t_size: int = selection.TOURNAMENT_SIZE,
    pop_rows: int | None = None,
) -> DataFrame:
    """One SGA generation: evaluated population [id, genome, fitness] →
    evaluated children [id, genome, fitness]. ``seed`` is folded with the
    generation index so every generation draws a fresh deterministic
    stream; ``seed=None`` draws shuffle keys and crossover masks at
    random.

    ``pop_rows`` is accepted and ignored: it used to choose between two
    generation routes, and perfbench's SGA workload still passes it."""
    _check_buckets(n_buckets)
    gen_seed = None if seed is None else seed * 1_000_033 + generation
    sh = shuffle.with_shuffle_key(pop, gen_seed, n_buckets=n_buckets)
    return selection.breed_children(
        sh, n_bits, gen_seed, t_size, n_buckets=n_buckets
    )


def duck_generation_sql(
    pop_sql: str,
    n_bits: int,
    seed: int,
    generation: int = 0,
    n_buckets: int = 32,
    t_size: int = selection.TOURNAMENT_SIZE,
) -> str:
    """Oracle twin of next_generation over a relation exposing
    (id, genome, fitness)."""
    gen_seed = seed * 1_000_033 + generation
    sh = shuffle.duck_shuffle_query(pop_sql, gen_seed, n_buckets=n_buckets)
    par = selection.duck_tournament_sql(
        f"(SELECT id, genome, fitness, skey, part FROM {sh} _sh)", t_size
    )
    pairs = selection.duck_paired_sql(par)
    return crossover.duck_children_sql(pairs, n_bits, gen_seed)


@dataclass
class GenStats:
    generation: int
    best_fitness: int
    pop: int
    wall_ms: int


@dataclass
class SgaResult:
    stats: list[GenStats] = field(default_factory=list)
    best_fitness: int = 0
    generations: int = 0
    converged: bool = False


def run_sga(
    spark: SparkSession,
    n_bits: int,
    pop_size: int,
    seed: int | None = 42,
    max_generations: int = 100,
    target_slack: int = 10,
    n_buckets: int | None = None,
    mutation_rate: float | None = None,
    rng: "_random.Random | None" = None,
) -> SgaResult:
    """Iterative driver (P7 stop rule: best ≥ n_bits − target_slack,
    ``reference src/edu/illinois/ga/MapReduce.java:433-434``). Emits the
    reference's telemetry line GA:<it>:<bits>:<pop>:<best>:<ms>
    (``:432``) per generation. Each generation is materialized by a
    stats-resetting localCheckpoint (runtime.local_checkpoint_truncated)
    and the one it replaced is freed (runtime.free_checkpoint)."""
    if pop_size < 1:
        # an empty population would surface as best=None deep in the
        # stats fold; fail at the API boundary instead
        raise ValueError(f"run_sga: pop_size must be >= 1, got {pop_size}")
    if n_buckets is None:
        n_buckets = default_n_buckets(spark)
    _check_buckets(n_buckets)
    res = SgaResult()
    # seed=None mutation still needs a *fresh* deterministic stream per
    # generation — a literal-0 fallback reapplied the identical mask keyed
    # by child id every generation (bits toggling back and forth instead of
    # independent flips), so draw one random base seed per run and fold the
    # generation index into it exactly like the seeded path. The draw
    # comes from `rng` when injected (an injectable source makes the
    # unseeded MUTATION stream reproducible from a logged Random state);
    # default remains a fresh stream per run, and the chosen base is
    # echoed in telemetry either way. NOTE the echo replays only the
    # mutation masks — selection, shuffle keys and crossover masks under
    # seed=None stay truly random (operators/shuffle.py policy).
    mut_base = (rng or _random).getrandbits(32) if seed is None else seed
    if seed is None:
        print(f"GA:mut_base={mut_base}")

    t0 = time.perf_counter()
    pop = evaluate(
        generate.random_population(spark, pop_size, n_bits, seed), n_bits
    ).persist()
    # ONE job materializes the generation AND gathers its stats (the
    # reference's map-side running max + side-channel fold rode the same
    # job too, MapReduce.java:296-310) — a separate count()-then-agg
    # costs a second full scan per generation, ~15% of a 1.33M-row
    # generation's wall time
    best, n = pop.agg(F.max("fitness"), F.count(F.lit(1))).collect()[0]
    gen_ms = int((time.perf_counter() - t0) * 1000)
    try:
        for it in range(max_generations):
            # ms = wall time to PRODUCE this generation (generate/evaluate
            # + checkpoint + stats), matching the reference's per-job
            # GA:<ms> line (MapReduce.java:432)
            res.stats.append(GenStats(it, best, n, gen_ms))
            print(f"GA:{it}:{n_bits}:{n}:{best}:{gen_ms}")
            res.best_fitness = max(res.best_fitness, best)
            res.generations = it
            if best >= n_bits - target_slack:
                res.converged = True
                break
            if it == max_generations - 1:
                # the generation bred here would exit the loop unrecorded
                # — don't pay a full produce+materialize for stats no one
                # sees (at the README's 10x scale that's a wasted ~10 s
                # 1.33M-row generation per bounded run)
                break
            t0 = time.perf_counter()
            children = next_generation(pop, n_bits, seed, it, n_buckets)
            if mutation_rate:
                # extension beyond the reference (which has no mutation and
                # therefore plateaus near the optimum as diversity depletes)
                from ..operators import mutate

                gen_seed = mut_base * 1_000_033 + it
                if mutation_rate * n_bits <= 8:
                    # low-rate: sparse Poisson-count mutation (~5 hashes
                    # per row instead of n_bits/3 — the at-scale shape)
                    children = mutate.apply_mutation_sparse(
                        children, n_bits, mutation_rate, gen_seed
                    )
                else:
                    children = mutate.apply_mutation(
                        children, n_bits, mutation_rate, gen_seed
                    )
                children = evaluate(children, n_bits)
            # checkpoint WITH a statistics reset: plain localCheckpoint
            # carries the plan's estimated stats into the next
            # generation's plan (runtime.local_checkpoint_truncated);
            # the stats agg below is the one action that materializes it
            new_pop = runtime.local_checkpoint_truncated(children, eager=False)
            best, n = new_pop.agg(
                F.max("fitness"), F.count(F.lit(1))
            ).collect()[0]
            gen_ms = int((time.perf_counter() - t0) * 1000)
            # free_checkpoint: unpersist() alone leaks the rotated
            # localCheckpoint's RDD blocks
            runtime.free_checkpoint(pop)
            pop = new_pop
            if n == 0:
                # the odd-tail pairing drop shrinks each bucket by ~1
                # row per generation; a long-running TINY population can
                # go extinct before converging (64 rows / 4 buckets dies
                # at ~gen 28). Stop cleanly with the history recorded —
                # best=None would otherwise crash the next stats line.
                print(f"GA:extinct:{it + 1}")
                break
    finally:
        runtime.free_checkpoint(pop)
    return res
