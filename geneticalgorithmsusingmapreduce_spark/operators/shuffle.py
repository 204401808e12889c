"""Seeded shuffle keys: random partitioner X1 + random sort O1 (SURVEY.md
§2.7, §2.10).

The reference routes each record to a uniformly random reducer
(``reference src/edu/illinois/ga/MapReduce.java:39-50``,
``src/edu/illinois/incr_ga/IndividualPartitioner.java:13-18``) and then
*sorts with a random comparator* (``reference
src/edu/illinois/ga/LongArrayWritable.java:52-58``,
``LongArrayWritableComparator.java:15-32``) — deliberately violating the
comparator contract so each reducer sees a random permutation. That trick
would break TimSort; the contract-clean equivalent is a **seeded random
sort key**: skey = top-63-bits of xxhash64(seed||salt, id), and bucket
part = skey % n_buckets (uniform routing). This module only adds the
two columns. The generation's one exchange
(operators/selection._bucket_stream) routes the buckets onto
``part % P`` partitions sorted by (part, skey, id), so each bucket
reaches the tournament as a seeded random permutation, reproducibly.

seed=None draws skey from rand() instead, as the reference does; such
runs are checkable by row count only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import bits, prng


def with_shuffle_key(
    df: DataFrame, seed: int | None, id_col: str = "id", n_buckets: int = 8
) -> DataFrame:
    """Adds skey (random sort key in [0, 2^63)) and part (bucket in
    [0, n_buckets))."""
    if seed is None:
        # 63 uniform bits from two 32-bit draws — a single rand()·2^63 draw
        # has only a 53-bit mantissa, leaving the low ~10 bits zero, which
        # collapses `skey % n_buckets` routing for power-of-two buckets
        skey = bits.spark_random_long_sql(63)
    else:
        h = prng.spark_hash(str(bits.seed_salt(seed, bits.SALT_SHUFFLE)), id_col)
        skey = prng.spark_unit_bits(h, 63)
    return (
        df.withColumn("skey", F.expr(skey))
        .withColumn("part", F.expr(f"skey % {n_buckets}"))
    )


def duck_shuffle_query(
    source_sql: str, seed: int, id_col: str = "id", n_buckets: int = 8
) -> str:
    """Oracle twin: wraps ``source_sql`` adding skey/part."""
    ss = bits.seed_salt(seed, bits.SALT_SHUFFLE)
    return prng.duck_hash_query(
        source_sql,
        [str(ss), id_col],
        "__sh",
        extra=[
            f"{prng.duck_unit_bits('__sh', 63)} AS skey",
            f"({prng.duck_unit_bits('__sh', 63)} % {n_buckets}) AS part",
        ],
    )
