"""64,000-bit genome scale — the incr_ga reference's hardcoded config
(``reference src/edu/illinois/incr_ga/MapReduce.java:31-32``: genome =
LONGS_PER_ARRAY 1000 longs, POPULATION 6000).

Round-1 gap: nothing exercised the engine above 10,000 bits (157 longs),
so a user porting the incr_ga config would be the first to hit any hidden
codegen/Arrow width limit. These tests run the full SGA generation chain
and the T1 incremental loop at 1,000 longs (population shrunk for test
wall-clock; width is what stresses the kernels — the full pop 6,000 runs
in bench.py's sga_64kbit_gen_sec entry).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.functions import bits
from geneticalgorithmsusingmapreduce_spark.operators import (
    fitness as fit_ops,
    generate,
)
from geneticalgorithmsusingmapreduce_spark.plans import sga

N_BITS = 64_000
NL = bits.n_longs(N_BITS)


def test_population_and_fitness_at_64kbits(spark):
    pop = fit_ops.with_fitness(
        generate.random_population(spark, 128, N_BITS, seed=11), nl=NL
    )
    rows = pop.collect()
    assert len(rows) == 128
    assert all(len(r.genome) == NL for r in rows)
    # uniform bits: fitness tightly concentrated around n_bits/2
    # (sd = sqrt(n/4) = 126.5; 6 sd band)
    assert all(abs(r.fitness - N_BITS / 2) < 800 for r in rows)


def test_sga_generation_at_64kbits(spark):
    pop = fit_ops.with_fitness(
        generate.random_population(spark, 256, N_BITS, seed=12), nl=NL
    )
    children = sga.next_generation(
        pop, N_BITS, seed=12, generation=0, n_buckets=4
    )
    rows = children.collect()
    # n parents → floor(n_bucket/2) pairs → 2 children each; buckets with
    # odd counts drop their unpaired tail parent (reference semantics)
    assert 248 <= len(rows) <= 256 and len(rows) % 2 == 0
    assert all(len(r.genome) == NL for r in rows)
    assert all(0 < r.fitness < N_BITS for r in rows)
    # crossover of uniform parents stays uniform
    avg = sum(r.fitness for r in rows) / len(rows)
    assert abs(avg - N_BITS / 2) < 200


def test_incremental_sga_at_64kbits(spark):
    from geneticalgorithmsusingmapreduce_spark.streaming import incremental

    st = incremental.start_incremental_sga(
        spark, n_bits=N_BITS, pop_size=128, generations=2, seed=13,
        n_buckets=4,
    )
    assert st.generation == 2
    assert len(st.history) == 2
    # dedup SHRINKS the population here: tournaments over small buckets
    # select the bucket best repeatedly, identical (pa, pb) pairs emit
    # identical children, and D1 collapses them — the intended incr_ga
    # semantics (its HashMap dedup would have done the same had it worked)
    assert 0 < st.history[-1][2] <= 128
    row = st.population.select(
        F.size("genome").alias("w"), "fitness"
    ).first()
    assert row.w == NL
