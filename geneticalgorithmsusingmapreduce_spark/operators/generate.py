"""Row-producing generators (SURVEY.md §2.3).

G1 — random population generator: the reference bootstraps by writing one
dummy seed record per mapper, and ``InitialGAMapper`` explodes it into
``populationPerMapper`` individuals built bit-by-bit from
``rng.nextBoolean()`` (``reference src/edu/illinois/ga/MapReduce.java:52-83``,
dummy-seed writer ``:324-352``). Spark needs no input files: ``spark.range``
is a parallel partitioned generator and the genome longs come from the
seeded xxhash64 stream (functions.bits) — whole uniform longs, same
distribution as 64 coin flips, fully inside whole-stage codegen.

G2 — cGA probability-vector initializer: every probability starts at
p = 0.5 encoded fixed-point as Long.MAX_VALUE/2 (``reference
src/edu/illinois/ga/CGA.java:38-67``, constant ``:57``; key formula
mapperId*numSplits+i ``:64`` — range() ids are already globally unique,
which is all the formula achieves). The engine keeps the cGA model
**exploded**: one row per (split_id, bit) rather than a 704-element array
per split (``reference src/edu/illinois/ga/CGA.java:34`` packs 11 longs per
split record). Exploded rows keep every cGA operator in codegen'd
expressions + hash aggregations and let a 100 TB model shard freely across
executors — the array layout would funnel each split through interpreted
lambda evaluation.

Scale: range() produces shuffle-free partitioned output; genome
materialization is embarrassingly parallel.
"""

from __future__ import annotations

import pyarrow as pa  # arrow_udf resolves the kernels' pa.Array hints here
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import bits

LONG_MAX = 2**63 - 1
P_HALF = LONG_MAX // 2  # reference init value, CGA.java:57


def random_population(
    spark: SparkSession,
    pop: int,
    n_bits: int,
    seed: int | None = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """G1 → DataFrame[id: bigint, genome: array<bigint>].

    seed=None reproduces the reference's true-random behavior (rows-only
    oracle); an int seed gives the DuckDB-verifiable variant.
    """
    rng = (
        spark.range(0, pop, 1, num_partitions)
        if num_partitions
        else spark.range(pop)
    )
    nl = bits.n_longs(n_bits)
    if seed is not None and nl > bits.LARGE_NL:
        # the same seeded stream in numpy: literal expressions at this
        # width break the 64 KB codegen limit

        def genomes(ids: pa.Array) -> pa.Array:
            return bits.arrow_list_column(
                bits.np_genome(seed, ids.to_numpy(), n_bits)
            )

        g = F.arrow_udf(genomes, "array<bigint>")("id")
    elif seed is None:
        mask = bits.last_long_mask(n_bits)
        elems = []
        for j in range(nl):
            e = bits.spark_random_long_sql()
            if j == nl - 1 and mask != -1:
                e = f"({e} & {mask})"
            elems.append(e)
        g = F.expr("array(" + ", ".join(elems) + ")")
    else:
        g = F.expr(bits.spark_genome_sql(seed, "id", n_bits))
    return rng.select(F.col("id"), g.alias("genome"))


def population_gen_duckdb_sql(pop: int, n_bits: int, seed: int) -> str:
    """Oracle twin of random_population(seed=...): subquery with (id, genome)."""
    q = bits.duck_genome_query(
        f"SELECT id FROM range(0, {pop}) _t(id)", "id", ["id"], n_bits, seed
    )
    return f"(SELECT id, genome FROM {q} _p)"


def init_prob_vectors(
    spark: SparkSession, num_splits: int, bits_per_split: int = 704,
    num_partitions: int | None = None,
) -> DataFrame:
    """G2 → DataFrame[split_id: bigint, bit: bigint, p64: bigint], exploded
    model layout, all probabilities at the reference's fixed-point 0.5.

    num_partitions sizes the model's partitioning to the model, not the
    session default — a 1,000-bit demo model in 32 partitions of ~30 rows
    pays 32 tasks of scheduling per generation for no parallelism (the
    iterative driver passes ~64k bits/partition); a billion-bit model
    still fans out."""
    return (
        spark.range(0, num_splits * bits_per_split, 1, num_partitions)
        .select(
            (F.col("id") / bits_per_split).cast("bigint").alias("split_id"),
            (F.col("id") % bits_per_split).alias("bit"),
            F.lit(P_HALF).alias("p64"),
        )
    )


def prob_vectors_duckdb_sql(num_splits: int, bits_per_split: int = 704) -> str:
    return (
        f"SELECT id // {bits_per_split} AS split_id, "
        f"id % {bits_per_split} AS bit, {P_HALF}::BIGINT AS p64 "
        f"FROM range(0, {num_splits * bits_per_split}) _t(id)"
    )


def population_from_table(
    df: DataFrame, key_expr: str, n_bits: int, seed: int = 42
) -> DataFrame:
    """Deterministic population derived from relational rows (flagship
    pattern, SURVEY.md §7.2): genome seeded by a unique row key expression.
    Lets GA operators be oracle-checked against real testdata tables."""
    return df.withColumn(
        "genome", F.expr(bits.spark_genome_sql(seed, key_expr, n_bits))
    )
