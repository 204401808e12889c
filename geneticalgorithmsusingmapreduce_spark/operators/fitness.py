"""Fitness evaluation + best-individual aggregation (SURVEY.md §2.2, §2.4).

P1/P2 — ONEMAX fitness projection: the reference's ``fitness()`` mask-walks
64 bit positions per long, boxing a LongWritable per probe (``reference
src/edu/illinois/ga/MapReduce.java:100-111``); here it is one
whole-stage-codegen'd ``bit_count`` per long.

A1/A2 — best individual: the reference splits this into a map-side running
max (``:87-88,120-124``) plus driver-side folding of per-task HDFS side
files (``:387-427``). Spark's HashAggregate already executes partial
(map-side) → final aggregation for ``max``/``max_by``; the side-channel
files collapse into a normal 1-row agg + collect (SURVEY.md §3.4).

Scale note: fitness is a narrow projection (no shuffle); best-individual is
a single all-to-one agg whose partial side reduces each partition to one
row, so the final exchange moves #partitions rows — optimal at any scale.
"""

from __future__ import annotations

import pyarrow as pa  # arrow_udf resolves the kernels' pa.Array hints here
from pyspark.sql import Column, DataFrame, functions as F

from ..functions import bits


def fitness_col(genome: str = "genome", nl: int | None = None) -> Column:
    """P1: popcount over the packed genome array. Pass ``nl`` (known array
    length) to stay in whole-stage codegen via a literal bit_count sum."""
    return F.expr(bits.popcount_sql(genome, "spark", nl))


def with_fitness(
    df: DataFrame, genome: str = "genome", nl: int | None = None
) -> DataFrame:
    """P2: append fitness (reference emits (individual, fitness) pairs).
    Above LARGE_NL a scalar Arrow UDF popcounts the flat genome buffer in
    numpy — same values, no 64 KB codegen blowup, still a projection."""
    if nl is not None and nl > bits.LARGE_NL:

        def popcount(g: pa.Array) -> pa.Array:
            return pa.array(bits.np_popcount_rows(bits.np_list_matrix(g, nl)))

        return df.withColumn("fitness", F.arrow_udf(popcount, "long")(genome))
    return df.withColumn("fitness", fitness_col(genome, nl))


def best_individual(df: DataFrame) -> DataFrame:
    """A1+A2: one-row DataFrame (best_fitness, best_genome). Partial max
    happens map-side automatically (no side files, no driver fold)."""
    return df.agg(
        F.max("fitness").alias("best_fitness"),
        F.max_by("genome", "fitness").alias("best_genome"),
    )
