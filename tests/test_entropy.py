"""Distribution-quality regressions for the seed=None (true-random) paths
and ANSI-overflow guards — failures here are invisible to rows-only
oracles (the row *counts* stay right while the *distribution* is broken).

Root cause pinned by these tests: a single ``floor(rand() * 2^64)`` draw
passes through a double's 53-bit mantissa, so any magnitude ≥ 2^62 has
its low ~10 bits forced to zero. Genomes built that way almost never set
low bit positions (ONEMAX fitness depressed ~8%, crossover can never
recombine them), and ``skey % 32`` bucketing funnels ~98% of rows into
bucket 0 (every double ≥ 2^57 is a multiple of 32). The fix composes each
long from two 32-bit draws (bits.spark_random_long_sql).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.functions import bits
from geneticalgorithmsusingmapreduce_spark.operators import (
    ann,
    generate,
    shuffle,
)


def test_seed_none_population_sets_every_bit_position(spark):
    """OR of 2048 random 64-bit longs must set all 64 bits (miss
    probability 64·2^-2048). Pre-fix the low ~10 bits were never set."""
    pop = generate.random_population(spark, 2048, 64, seed=None)
    row = pop.agg(
        F.expr("bit_count(bit_or(element_at(genome, 1)))").alias("b")
    ).collect()[0]
    assert row.b == 64


def test_seed_none_crossover_masks_set_every_bit_position():
    """Crossover with seed=None must be able to mix every bit position:
    children of all-ones × all-zeros parents are exactly the masks, so
    the kernel's numpy masks must cover every bit of a full long and
    exactly the used bits of the tail long."""
    import numpy as np

    ones = np.full((1024, 2), -1, dtype=np.int64)
    c1, _ = bits.np_crossover(ones, ones * 0, None, None, 100)
    assert np.bitwise_or.reduce(c1, axis=0).tolist() == [
        -1, bits.last_long_mask(100)
    ]


def test_seed_none_shuffle_buckets_spread(spark):
    """seed=None skey % 32 must route roughly uniformly. Pre-fix ~63/64 of
    draws were multiples of 32 → bucket 0 held nearly everything."""
    pop = spark.range(4096).select("id")
    sh = shuffle.with_shuffle_key(pop, seed=None, n_buckets=32)
    counts = sh.groupBy("part").count().collect()
    assert len(counts) == 32
    assert max(c["count"] for c in counts) < 4096 * 0.10


def test_random_long_sql_shape():
    """63-bit form must be non-negative (sort-key contract)."""
    assert "2147483648" in bits.spark_random_long_sql(63)


def test_ivf_topk_large_magnitude_no_ansi_overflow(spark):
    """Embedding components ~±300 quantize to ~3·10^8; dots reach ~5·10^18
    (still int64), so the old cdot*8192 tie-break key overflowed and threw
    under ANSI. The struct ordering must handle it."""
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.choice([-300.0, 300.0]) for _ in range(ann.DIMS)])
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ann.ivf_topk(emb, n_queries=2, k=3).collect()
    assert len(out) > 0
    assert all(r.rank <= 3 for r in out)
