"""T1 — incremental GA as Structured Streaming micro-batches.

The reference's incremental variant needs a *forked* Hadoop whose engine
preserves reducer state across runs (``conf.setIncrementalReduction(true)``,
``reference src/edu/illinois/incr_ga/IncMapReduce.java:343-344,521``; the
cooperating reducer buffers children in a HashMap and emits at end of
``run()``, ``:241-325``). Structured Streaming has this natively: each
micro-batch is one generation; ``foreachBatch`` carries the population
across batches; the buffered-children dedup becomes D1's intended
semantics (dedup_genomes — the reference's HashMap dedup never actually
deduplicated, SURVEY.md §2.13(2)).

A generation tick stream drives the loop (streaming/microbatch.py) —
each arriving tick advances one generation. At scale the same topology
holds with a real source (Kafka etc.): ticks are control records; the
population lives in parquet between batches exactly like the
reference's per-iteration HDFS dirs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup, generate
from ..plans import sga
from ..runtime import free_checkpoint, local_checkpoint_truncated
from .microbatch import run_micro_batches


@dataclass
class IncrementalState:
    population: DataFrame
    generation: int = 0
    history: list[tuple[int, int, int]] = field(default_factory=list)
    # (generation, best_fitness, pop_size)


def start_incremental_sga(
    spark: SparkSession,
    n_bits: int,
    pop_size: int,
    generations: int,
    seed: int = 42,
    n_buckets: int = 16,
    dedup_children: bool = True,
):
    """Run ``generations`` micro-batches driven by a rate stream; returns
    the final IncrementalState. Fixed iteration count mirrors the
    incremental reference's stop rule (``reference
    src/edu/illinois/incr_ga/IncMapReduce.java:512-513``). Raises
    RuntimeError if a generation fails or the run outlasts the
    micro-batch driver's deadline — never a partial state."""
    state = IncrementalState(
        population=local_checkpoint_truncated(
            sga.evaluate(
                generate.random_population(spark, pop_size, n_bits, seed),
                n_bits,
            )
        )
    )

    def one_batch(b: int) -> None:
        children = sga.next_generation(
            state.population, n_bits, seed, b, n_buckets
        )
        if dedup_children:
            children = dedup.dedup_genomes(children)
        # stats-resetting checkpoint: the estimate must not carry
        # across micro-batches (see runtime.local_checkpoint_truncated)
        new_pop = local_checkpoint_truncated(children)
        best, n = new_pop.agg(F.max("fitness"), F.count(F.lit(1))).collect()[0]
        old = state.population
        state.population = new_pop
        state.history.append((b + 1, best, n))
        free_checkpoint(old)  # release the rotated checkpoint's RDD blocks
        state.generation = b + 1

    run_micro_batches(spark, generations, one_batch, name="incremental_sga")
    return state
