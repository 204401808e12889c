"""Simple GA: one-generation plan + iterative driver (SURVEY.md §3.1).

Reference lifecycle (``reference src/edu/illinois/ga/MapReduce.java:275-438``):
one MapReduce job per generation — map evaluates fitness + tracks a running
max, shuffle randomly partitions AND randomly sorts, reduce runs the
windowed tournament + pairing + crossover, driver folds side-files for the
global best and stops at best ≥ nBits−10 (``:433-434``).

Spark plan per generation: the seeded bucket exchange, then either ONE
per-bucket Arrow kernel (the reference reducer: W1 tournament, W2
pairing, P4 crossover and P2 fitness in numpy) or, above
WIDE_PATH_BYTES, the skinny composition (genome-free W1/W2 windows, one
genome join-back, P4 crossover, P2 fitness) — see WIDE_PATH_BYTES:

    population --(O1/X1 seeded skey+bucket)--> exchange(part) -->
    {breed kernel | W1 windows → W2 lag-pairing → join-back → P4 → P2}
    --> evaluated children

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


# The only route selector of next_generation, in genome bytes
# (pop_rows × n_longs × 8). At or below it a generation is ONE grouped
# Arrow kernel per bucket (selection.breed_children): one exchange, one
# Python pass, no window, join or pivot — but a whole bucket's genomes
# sit in one Python worker, so the bound also caps worker memory (16 MB
# per bucket at the default 32 buckets). Above it the skinny composition
# runs: windows over (id, fitness, skey) only and the genomes joined back
# through one wide exchange with no wide sort, the shape that scales to
# 10^7-10^8 individuals. 512 MB keeps the reference-scale runs (pop
# 132,878 at 10k bits = 167 MB; pop 6,000 at 64k bits = 48 MB) on the
# kernel and the README's 10× run (1.33M at 10k bits = 1.67 GB) on the
# skinny route.
WIDE_PATH_BYTES = 512 << 20


def next_generation(
    pop: DataFrame,
    n_bits: int,
    seed: int | None,
    generation: int,
    n_buckets: int = 32,
    t_size: int = selection.TOURNAMENT_SIZE,
    genome_df: DataFrame | None = None,
    pop_rows: int | None = None,
) -> DataFrame:
    """One SGA generation: evaluated population [id, genome, fitness] →
    evaluated children [id, genome, fitness]. ``seed`` is folded with the
    generation index so every generation draws a fresh deterministic
    stream; ``seed=None`` draws shuffle keys and crossover masks at
    random.

    ``pop_rows`` is the caller's known population size: when the
    generation fits WIDE_PATH_BYTES it takes the per-bucket kernel,
    otherwise (or when None) the skinny composition. Same ordering keys
    and mask stream ⇒ bit-identical seeded children either way (pinned
    in tests/test_sga.py). ``genome_df``: an id-unique [id, genome]
    lookup for the skinny route's join-back, for sources that repeat ids
    or derive genomes from ids (the lineitem entries) and for the
    bucket-stored loop."""
    gen_seed = None if seed is None else seed * 1_000_033 + generation
    sh = shuffle.with_shuffle_key(pop, gen_seed, n_buckets=n_buckets)
    if (
        pop_rows is not None
        and pop_rows * bits.n_longs(n_bits) * 8 <= WIDE_PATH_BYTES
    ):
        return selection.breed_children(sh, n_bits, gen_seed, t_size)
    sel = selection.tournament_parent_ids(sh, t_size)
    pairs = selection.paired_parent_ids(sel)
    wide = selection.pair_genomes(pairs, pop, genome_df)
    children = crossover.crossover_children(wide, n_bits, gen_seed)
    return evaluate(children, n_bits)


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
    storage: str = "memory",
    store_dir: str | None = None,
) -> SgaResult:
    """Iterative driver (P7 stop rule: best ≥ n_bits − target_slack,
    ``reference src/edu/illinois/ga/MapReduce.java:433-434``). Emits the
    reference's telemetry line GA:<it>:<bits>:<pop>:<best>:<ms>
    (``:432``) per generation.

    ``storage``: per-generation materialization strategy.
    - "memory" (default): persist + stats-truncating localCheckpoint —
      the single-box shape (no disk churn while shuffles fit in RAM).
    - "bucketed": each generation is WRITTEN as a parquet table
      bucketed by id (sources/bucketing, count sized by
      buckets_for_pop) and read back — the reference's per-generation
      HDFS store (``MapReduce.java:298-302``) re-expressed so the NEXT
      generation's genome join-backs are exchange-free on the genome
      side (the bucketed scan already satisfies hash(id)); the
      write/read also truncates lineage AND estimated stats, so the
      checkpoint-stats trap can't arise. This is the 100 TB loop shape:
      a generation is ~pop × genome bytes of sequential columnar I/O,
      and every genome access after the write is a co-located local
      read. ``store_dir`` (default: a temp dir, removed at the end)
      holds one layout per live generation; generation k's layout is
      deleted once k+1 is materialized."""
    if storage not in ("memory", "bucketed"):
        raise ValueError(f"run_sga: unknown storage {storage!r}")
    if pop_size < 1:
        # an empty population would surface as best=None deep in the
        # stats fold; fail at the API boundary instead
        raise ValueError(f"run_sga: pop_size must be >= 1, got {pop_size}")
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
    if n_buckets is None:
        n_buckets = default_n_buckets(spark)

    own_store = False
    if storage == "bucketed":
        import os as _os
        import shutil as _shutil
        import tempfile as _tempfile
        import uuid as _uuid

        from ..sources import bucketing

        if store_dir is None:
            store_dir = _tempfile.mkdtemp(prefix="gamr_sga_store_")
            own_store = True
        run_tag = _uuid.uuid4().hex[:8]
        live: dict = {"tbl": None, "path": None}

        def _materialize_bucketed(df: DataFrame, it: int, rows_hint: int):
            """Write generation ``it`` bucketed by id, read it back, and
            delete the PREVIOUS generation's layout (now superseded)."""
            # it = -1 is the initial population; shift so the table
            # suffix stays a valid (unsigned) SQL identifier
            tbl = f"gamr_sga_{run_tag}_g{it + 1}"
            path = _os.path.join(store_dir, f"gen_{it + 1}")
            bucketing.write_bucketed(
                df, tbl, path, shuffle.buckets_for_pop(rows_hint), "id",
                sort=False,  # hash join-backs — never sort genome rows
            )
            new = bucketing.read_bucketed(spark, tbl)
            if live["tbl"]:
                spark.sql(f"DROP TABLE IF EXISTS {live['tbl']}")
                _shutil.rmtree(live["path"], ignore_errors=True)
            live["tbl"], live["path"] = tbl, path
            return new

    t0 = time.perf_counter()
    init = evaluate(
        generate.random_population(spark, pop_size, n_bits, seed), n_bits
    )
    if storage == "bucketed":
        pop = _materialize_bucketed(init, -1, pop_size)
    else:
        pop = init.persist()
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
            children = next_generation(
                pop, n_bits, seed, it, n_buckets,
                # the bucket-stored generation IS the id-unique genome
                # lookup: join-backs ride its hash(id) bucketing with
                # zero exchange on the genome side
                genome_df=(
                    pop.select("id", "genome")
                    if storage == "bucketed" else None
                ),
                # the loop tracks its population size — generations
                # within WIDE_PATH_BYTES take the per-bucket kernel
                pop_rows=n,
            )
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
            if storage == "bucketed":
                # the store write IS the materialization: lineage and
                # estimated stats both reset at the scan, so the
                # checkpoint-stats trap (below) cannot arise
                new_pop = _materialize_bucketed(children, it, n)
            else:
                # checkpoint WITH a statistics reset: plain
                # localCheckpoint preserves the plan's estimated stats,
                # and the skinny generation's JOINS make the size-only
                # estimator's product COMPOUND across generations —
                # digit count of sizeInBytes doubles per generation and
                # the driver drowns in BigInteger.multiply from ~gen 18
                # (exponential wall at ANY data size). See
                # runtime.local_checkpoint_truncated.
                from ..runtime import local_checkpoint_truncated

                new_pop = local_checkpoint_truncated(children, eager=False)
            best, n = new_pop.agg(
                F.max("fitness"), F.count(F.lit(1))
            ).collect()[0]
            gen_ms = int((time.perf_counter() - t0) * 1000)
            if storage != "bucketed":
                # free_checkpoint: unpersist() alone leaks the rotated
                # localCheckpoint's RDD blocks
                from ..runtime import free_checkpoint

                free_checkpoint(pop)
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
        if storage == "bucketed":
            if live["tbl"]:
                spark.sql(f"DROP TABLE IF EXISTS {live['tbl']}")
                _shutil.rmtree(live["path"], ignore_errors=True)
            if own_store:
                _shutil.rmtree(store_dir, ignore_errors=True)
        else:
            from ..runtime import free_checkpoint

            free_checkpoint(pop)
    return res
