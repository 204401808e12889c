"""Uniform crossover P4 applied to parent pairs (SURVEY.md §2.2).

The reference walks all 64 bits of every long flipping a coin per bit
(``reference src/edu/illinois/ga/MapReduce.java:174-201``); with a random
64-bit mask per long the identical distribution costs 3 bitwise ops per
long. The engine crosses pairs inside the generation kernel
(operators/selection.breed_children → functions.bits.np_crossover, masks
keyed by the pair key below); this module keeps the key and the DuckDB
twin of the children.
"""

from __future__ import annotations

from ..functions import bits

# globally-unique pair key: part < 2^20 buckets, pair < 2^40
_PAIR_KEY = "(part * 1099511627776 + pair)"
MAX_BUCKETS = 1 << 20


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
