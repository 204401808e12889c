"""ONEMAX fitness evaluation P1/P2 (SURVEY.md §2.2).

The reference's ``fitness()`` mask-walks 64 bit positions per long,
boxing a LongWritable per probe (``reference
src/edu/illinois/ga/MapReduce.java:100-111``); here it is one
whole-stage-codegen'd ``bit_count`` per long, or above LARGE_NL a numpy
popcount over the flat genome buffer. Either way fitness is a narrow
projection (no shuffle). The best individual (A1/A2) is a plain 1-row
``max``/``max_by`` aggregate where an entry needs it (the flagship's
grouped ``max_by``, the drivers' stats collect): Spark's partial
(map-side) → final aggregation replaces the reference's running max
and side-file fold (SURVEY.md §3.4).
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

