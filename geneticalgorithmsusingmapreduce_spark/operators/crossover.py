"""Uniform crossover P4 applied to parent pairs (SURVEY.md §2.2).

The reference walks all 64 bits of every long flipping a coin per bit
(``reference src/edu/illinois/ga/MapReduce.java:174-201``); with a random
64-bit mask per long the identical distribution costs 3 bitwise ops per
long, inside whole-stage codegen (see functions.bits.spark_crossover_sql).
Children carry fitness 0 = unevaluated, the reference's convention
(``reference src/edu/illinois/ga/MapReduce.java:80,240-241``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import bits

# globally-unique pair key: part < 2^20 buckets, pair < 2^40
_PAIR_KEY = "(part * 1099511627776 + pair)"


def crossover_children(
    pairs: DataFrame, n_bits: int, seed: int | None
) -> DataFrame:
    """Input [part, pair, pa, pb] → two children per pair:
    [id, genome] with id = pair_key*2 + child_index."""
    nl = bits.n_longs(n_bits)
    if nl > bits.LARGE_NL:
        # numpy masks and children per Arrow batch (the same seeded
        # stream, or numpy's unseeded draws for seed=None): literal
        # expressions at this width break the 64 KB codegen limit
        def xo_kernel(batches):
            import numpy as np
            import pyarrow as pa

            for b in batches:
                pk = b.column("pk").to_numpy()
                c1, c2 = bits.np_crossover(
                    bits.np_list_matrix(b.column("pa"), nl),
                    bits.np_list_matrix(b.column("pb"), nl),
                    seed, pk, n_bits,
                )
                yield pa.RecordBatch.from_pydict({
                    "id": np.concatenate([pk * 2, pk * 2 + 1]),
                    "genome": bits.arrow_list_column(
                        np.concatenate([c1, c2])
                    ),
                })

        return pairs.select(
            F.expr(_PAIR_KEY).alias("pk"), "pa", "pb"
        ).mapInArrow(xo_kernel, "id long, genome array<long>")
    if seed is None:
        mask_elems = []
        m = bits.last_long_mask(n_bits)
        for j in range(nl):
            e = bits.spark_random_long_sql()
            mask_elems.append(f"({e} & {m})" if j == nl - 1 and m != -1 else e)
        mask_sql = "array(" + ", ".join(mask_elems) + ")"
    else:
        mask_sql = bits.spark_mask_sql(seed, _PAIR_KEY, n_bits)
    d = pairs.withColumn("m", F.expr(mask_sql))
    c1 = bits.spark_crossover_sql("pa", "pb", "m", 1, nl)
    c2 = bits.spark_crossover_sql("pa", "pb", "m", 2, nl)
    return d.select(
        F.posexplode(F.expr(f"array({c1}, {c2})")).alias("cpos", "genome"),
        F.expr(f"{_PAIR_KEY} * 2").alias("pk2"),
    ).select((F.col("pk2") + F.col("cpos")).alias("id"), "genome")


def duck_children_sql(pairs_sql: str, n_bits: int, seed: int) -> str:
    """Oracle twin over a relation exposing (part, pair, pa, pb)."""
    nl = bits.n_longs(n_bits)
    keyed = f"SELECT *, {_PAIR_KEY} AS pk FROM {pairs_sql} _pp"
    masked = bits.duck_genome_query(
        keyed, "pk", ["part", "pair", "pa", "pb", "pk"],
        n_bits, seed, salt=bits.SALT_MASK, out="m",
    )
    c1 = bits.duck_crossover_sql("pa", "pb", "m", 1, nl)
    c2 = bits.duck_crossover_sql("pa", "pb", "m", 2, nl)
    return f"""(
      SELECT pk * 2 AS id, {c1} AS genome FROM {masked} _m1
      UNION ALL
      SELECT pk * 2 + 1 AS id, {c2} AS genome FROM {masked} _m2
    )"""
