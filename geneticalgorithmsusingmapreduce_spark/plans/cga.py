"""Compact GA iterative driver (SURVEY.md §3.2).

Per generation (one narrow pass + one T-row exchange, vs the reference's
full MapReduce job with an HDFS side-channel):

    vectors --explode members--> Bernoulli samples --groupBy(member)-->
    T-row fitness --collect--> (winner, loser) scalars
    vectors --shuffle-free update projection--> vectors'

Stop when unConverged == 0 (``reference src/edu/illinois/ga/CGA.java:495``);
telemetry mirrors the reference's CGA:<it>:... line (``:494``).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .. import runtime
from ..operators import cga, generate


@dataclass
class CgaGenStats:
    generation: int
    best_fitness: int
    unconverged: int
    wall_ms: int


@dataclass
class CgaResult:
    stats: list[CgaGenStats] = field(default_factory=list)
    generations: int = 0
    converged: bool = False
    final_unconverged: int = -1


def reference_pop_size(
    num_splits: int, bits_per_split: int = cga.BITS_PER_SPLIT, multiplier: int = 10
) -> int:
    """Reference sizing: pop = ceil(strLen · log(totalBits)/log 2) · mult
    (``reference src/edu/illinois/ga/CGA.java:331-335``).  The quotient
    form (not math.log2) replicates the reference's floating-point
    expression op-for-op — the two can differ in the last ulp, which
    ceil() amplifies into a whole-pop difference for unlucky sizes."""
    total_bits = num_splits * bits_per_split
    return int(
        math.ceil(total_bits * math.log(total_bits) / math.log(2))
    ) * multiplier


def reference_cli_sizing(
    vec_size: int, n_maps: int, multiplier: int
) -> tuple[int, int, int, int]:
    """The reference CLI's exact pop-sizing arithmetic
    (``reference src/edu/illinois/ga/CGA.java:331-335``, constants
    LONG_BITS=64 / LONGS_PER_ARRAY=12 at ``:33-34``):

        numSplits = ceil(strLen / numMaps / 64 / 11)    # splits PER map
        tot       = 64 * 11 * numSplits * numMaps       # evolved capacity
        pop       = ceil(strLen * log2(tot)) * times

    ``numSplits`` is per map task (each map input key fans out to
    numSplits arrays, ``CGA.java:64``), so the model actually evolved is
    ``numSplits * numMaps`` shards of 704 payload bits — ``tot`` bits in
    all, the requested strLen padded up to 704-bit granularity. Returns
    ``(splits_per_map, total_splits, tot_bits, pop)``; note pop scales
    with the *requested* strLen but log2 of the *padded* capacity,
    exactly as the reference prints it.
    """
    lb, lpa = 64, 11  # LONG_BITS, LONGS_PER_ARRAY - 1
    splits_per_map = math.ceil(vec_size / n_maps / lb / lpa)
    tot = lb * lpa * splits_per_map * n_maps
    # Math.log(tot)/Math.log(2) op-for-op (NOT log2): CGA.java:334's
    # exact float expression — an ulp difference under ceil() shifts pop
    # by strLen*multiplier for unlucky sizes (r5 ADVICE)
    pop = int(
        math.ceil(vec_size * math.log(tot) / math.log(2))
    ) * multiplier
    return splits_per_map, splits_per_map * n_maps, tot, pop


def run_cga(
    spark: SparkSession,
    num_splits: int,
    t_size: int = 4,
    seed: int = 42,
    max_generations: int = 200,
    pop: int | None = None,
    bits_per_split: int = cga.BITS_PER_SPLIT,
    check_every: int = 1,
    verbose: bool = True,
) -> CgaResult:
    """Iterative cGA. Note the model update is *deterministic* given the
    seed — each generation folds the iteration index into its stream.

    Per generation the loop runs the T-row (winner, loser, best) agg
    collect — the one job the algorithm requires, since the next update
    depends on it — and, every `check_every` generations (and on the
    last), the convergence stats collect over the updated model. The
    reference checks every generation; coarser polling keeps its stop
    semantics, because a converged model stays converged under further
    updates' outward drift and the loop only stops on a read of 0. So a
    generation is two Spark jobs with ``check_every=1`` (a traced
    perfbench ``cga_converge`` run reads 2.0 jobs per generation) and
    one job on the generations that skip the check.

    Each updated model is a lazy ``localCheckpoint`` (a projection with
    no join, so there are no join statistics to compound): the first
    collect that reads it materialises its blocks and cuts the lineage.
    A model's blocks are freed with ``runtime.free_checkpoint`` (an
    unpersist frees nothing of a checkpoint) once that first read of its
    successor has run, and the last models are freed on return."""
    if pop is None:
        pop = reference_pop_size(num_splits, bits_per_split)
    res = CgaResult()
    # partition the model by its size: ~64k bits/partition, so tiny demo
    # models run 1-task generations while a 10^9-bit model still fans out
    parts = max(1, -(-num_splits * bits_per_split // 65_536))
    vectors = generate.init_prob_vectors(
        spark, num_splits, bits_per_split, num_partitions=parts
    ).localCheckpoint(eager=False)
    prev = None  # the model `vectors` was computed from, until it is read
    try:
        for it in range(max_generations):
            t0 = time.perf_counter()
            gen_seed = seed * 1_000_033 + it
            samples = cga.sample_members(vectors, t_size, gen_seed)
            fits = cga.member_fitness(samples)
            w, l, best = cga.winner_loser_best(fits)
            if prev is not None:
                runtime.free_checkpoint(prev)
            prev = vectors
            vectors = cga.update_vectors(
                vectors, w, l, gen_seed, pop
            ).localCheckpoint(eager=False)
            unconv = -1
            if (it + 1) % check_every == 0 or it == max_generations - 1:
                unconv = (
                    cga.convergence_stats(vectors).collect()[0].unconverged
                )
                res.final_unconverged = unconv
                runtime.free_checkpoint(prev)
                prev = None
            ms = int((time.perf_counter() - t0) * 1000)
            res.stats.append(CgaGenStats(it, best, unconv, ms))
            if verbose:
                print(
                    f"CGA:{it}:{pop}:{best}:{num_splits * bits_per_split}:"
                    f"{bits_per_split}:{unconv}:{ms}"
                )
            res.generations = it
            if unconv == 0:
                res.converged = True
                break
    finally:
        for df in (prev, vectors):
            if df is not None:
                runtime.free_checkpoint(df)
    return res
