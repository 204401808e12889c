"""Packed-bit genome kernels (64 bits per int64, as the reference packs
them: ``reference src/edu/illinois/ga/MapReduce.java:35,102-108``).

Performance doctrine (measured, see functions.prng): on the Spark side all
hot-path array construction/consumption uses **literal indices**
(``array(h(0), h(1), ...)``, ``bit_count(element_at(g, 1)) + ...``) so the
whole pipeline stays inside whole-stage codegen — higher-order-function
lambdas are interpreted and were 15-60× slower at sf0.1. The DuckDB side
(oracle only) may use list lambdas freely.

Stream discipline: every random draw is ``xxhash64(seed_salt, key, j)``
where ``seed_salt = seed * 1000003 + salt`` separates independent streams
(genome init / crossover masks / shuffle keys / samplers) of the same
logical seed.
"""

from __future__ import annotations

from . import prng

LONG_BITS = 64

# stream salts
SALT_GENOME = 1
SALT_MASK = 2
SALT_SHUFFLE = 3
SALT_SAMPLE = 4
SALT_PAIR = 5


def seed_salt(seed: int, salt: int) -> int:
    return seed * 1_000_003 + salt


def n_longs(n_bits: int) -> int:
    return (n_bits + LONG_BITS - 1) // LONG_BITS


def last_long_mask(n_bits: int) -> int:
    """Signed int64 with the low (n_bits mod 64, or 64) bits set — masks the
    unused tail of the final genome long."""
    used = n_bits - (n_longs(n_bits) - 1) * LONG_BITS
    if used == 64:
        return -1
    return (1 << used) - 1


def np_stack_cells(col, dtype="int64"):
    """pandas Series of array-typed cells → (N, width) matrix, one C-level
    ``np.array(Series.tolist())``. No package kernel calls it: genomes and
    embedding vectors cross as flat Arrow buffers (np_list_matrix /
    arrow_list_column). Its one caller is perfbench's
    ``functions.bits.stack_cells_s`` micro-timing."""
    import numpy as np

    return np.array(col.tolist(), dtype=dtype)


def np_list_matrix(col, nl: int):
    """Arrow list<int64> column of N lists of ``nl`` longs → (N, nl)
    matrix: a reshape of the flat values buffer, zero-copy for a single
    chunk. ``nl=-1`` infers the width from a non-empty column."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return col.flatten().to_numpy().reshape(len(col), nl)


def arrow_list_column(m):
    """(N, nl) int64 matrix → Arrow list<int64> array over the same flat
    buffer (no per-row conversion)."""
    import numpy as np
    import pyarrow as pa

    n, nl = m.shape
    offsets = pa.array(np.arange(0, (n + 1) * nl, nl, dtype=np.int32))
    return pa.ListArray.from_arrays(
        offsets, pa.array(np.ascontiguousarray(m).reshape(-1))
    )


def spark_random_long_sql(n_bits_out: int = 64) -> str:
    """Full-entropy random integer with ``n_bits_out`` uniform bits (64 →
    signed full-range int64), composed from two 32-bit ``rand()`` draws.

    A single ``floor((rand()-0.5) * 2^64)`` draw passes through a double's
    53-bit mantissa, so for magnitudes ≥ 2^62 the low ~10 bits are always
    zero: genome low bits never set (ONEMAX fitness depressed ~8%),
    crossover masks never recombine those positions, and ``skey % 2^k``
    bucketing collapses. Two 32-bit draws keep every output bit uniform;
    shiftleft wraps bitwise (no ANSI overflow)."""
    assert 33 <= n_bits_out <= 64
    hi_span = 2 ** (n_bits_out - 32)
    hi = f"shiftleft(cast(floor(rand() * {hi_span}) as bigint), 32)"
    lo = "cast(floor(rand() * 4294967296) as bigint)"
    return f"({hi} | {lo})"


# --------------------------------------------------------------------------
# ONEMAX fitness (P1)
# --------------------------------------------------------------------------

def popcount_sql(genome: str, dialect: str, nl: int | None = None) -> str:
    """Total 1-bits across the genome array. With known length ``nl`` the
    Spark form is a literal sum (codegen); otherwise falls back to the
    interpreted aggregate-HOF."""
    if dialect == "duckdb":
        return (
            f"cast(coalesce(list_sum(list_transform({genome},"
            f" x -> cast(bit_count(x) as bigint))), 0) as bigint)"
        )
    if nl is not None:
        terms = " + ".join(
            f"cast(bit_count(element_at({genome}, {j + 1})) as bigint)"
            for j in range(nl)
        )
        return f"({terms})"
    return (
        f"aggregate(transform({genome}, x -> cast(bit_count(x) as bigint)),"
        f" cast(0 as bigint), (a, b) -> a + b)"
    )


# --------------------------------------------------------------------------
# Genome generation (G1) — Spark side
# --------------------------------------------------------------------------

def spark_genome_sql(seed: int, key: str, n_bits: int, salt: int = SALT_GENOME) -> str:
    """array<bigint> of uniform longs keyed by (seed||salt, key, j); tail
    long masked to ``n_bits``. Literal-j construction → codegen'd."""
    nl = n_longs(n_bits)
    mask = last_long_mask(n_bits)
    ss = seed_salt(seed, salt)
    elems = []
    for j in range(nl):
        h = prng.spark_hash(str(ss), key, str(j))
        if j == nl - 1 and mask != -1:
            h = f"({h} & {mask})"
        elems.append(h)
    return "array(" + ", ".join(elems) + ")"


# --------------------------------------------------------------------------
# Genome generation — DuckDB oracle side
# --------------------------------------------------------------------------

def duck_genome_query(
    source_sql: str,
    key: str,
    carry: list[str],
    n_bits: int,
    seed: int,
    salt: int = SALT_GENOME,
    out: str = "genome",
) -> str:
    """Oracle twin of spark_genome_sql over a source relation.

    Explodes j = 0..nl-1 as rows (the hash chain needs one projection per
    step — see prng.duck_hash_steps), hashes (seed||salt, key, j), masks the
    tail, then regroups ``list(... ORDER BY j)`` per *source row* (a
    synthetic row id keeps duplicate keys distinct — the genome is a pure
    function of ``key``, so rows sharing a key get equal genomes, same as
    the Spark side). ``carry`` columns are passed through."""
    nl = n_longs(n_bits)
    mask = last_long_mask(n_bits)
    ss = seed_salt(seed, salt)
    carry_cols = ", ".join(dict.fromkeys(["__rid", *carry, "__gk"]))
    with_rid = (
        f"SELECT {', '.join(carry) + ', ' if carry else ''}{key} AS __gk, "
        f"row_number() OVER () AS __rid FROM ({source_sql}) _g"
    )
    exploded = (
        f"SELECT * FROM ({with_rid}) _gr CROSS JOIN range(0, {nl}) _r(j)"
    )
    hashed = prng.duck_hash_query(exploded, [str(ss), "__gk", "j"], "__h")
    masked = (
        f"CASE WHEN j = {nl - 1} THEN __h & {mask}::BIGINT ELSE __h END"
        if mask != -1 else "__h"
    )
    return (
        f"(SELECT {carry_cols}, list({masked} ORDER BY j) AS {out} "
        f"FROM {hashed} _h GROUP BY {carry_cols})"
    )


# --------------------------------------------------------------------------
# Uniform crossover (P4)
# --------------------------------------------------------------------------

def duck_crossover_sql(a: str, b: str, mask: str, child: int, nl: int) -> str:
    if child == 1:
        body = (f"(list_extract({a}, j) & list_extract({mask}, j)) | "
                f"(list_extract({b}, j) & ~list_extract({mask}, j))")
    else:
        body = (f"(list_extract({b}, j) & list_extract({mask}, j)) | "
                f"(list_extract({a}, j) & ~list_extract({mask}, j))")
    return f"list_transform(range(1, {nl + 1}), j -> {body})"


def duck_mask_query(source_sql, key, carry, n_bits, seed, out="mask"):
    return duck_genome_query(source_sql, key, carry, n_bits, seed,
                             salt=SALT_MASK, out=out)


# --------------------------------------------------------------------------
# Bit access
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# numpy kernels (large-genome path)
# --------------------------------------------------------------------------
# The one dispatch rule: at n_longs(n_bits) > LARGE_NL the seeded
# generator and fitness run Arrow-batched numpy kernels, at or below it
# the literal-index expressions above. A 10,000-bit genome is 157 longs,
# and literal-index expressions that wide blow the JVM's 64 KB method
# limit, so whole-stage codegen silently falls back to interpreted
# evaluation. Crossover runs inside the generation kernel at every
# width, and mutation's per-bit mask expression outgrows that limit at
# two longs, so both always run numpy. The
# kernels compute the *identical* seeded streams (prng.np_xxhash64 wraps
# exactly like the JVM), so results stay oracle-compatible whichever path
# ran. Genomes enter numpy through np_list_matrix and leave through
# arrow_list_column, never cell by cell.

LARGE_NL = 32

# Genome bytes per numpy kernel step (crossover pairs, popcount rows):
# keeps each step's temporaries in cache. At 10,000 bits a whole
# 8,300-row batch per step ran the breed kernel ~1.5× slower than
# 256 KB steps.
STEP_BYTES = 256 << 10


def np_genome(seed: int, keys, n_bits: int, salt: int = SALT_GENOME):
    """(len(keys), n_longs) int64 matrix — same values as spark_genome_sql."""
    import numpy as np

    from . import prng

    # the hash is a fold over its columns: the (seed_salt, key) prefix
    # once per row, then j folded over the (N, nl) matrix
    prefix = prng.np_xxhash64(
        [seed_salt(seed, salt), np.asarray(keys, dtype=np.int64).reshape(-1)]
    )
    g = prng.np_xxhash64(
        [np.arange(n_longs(n_bits), dtype=np.int64)],
        seed=prefix.reshape(-1, 1),
    )
    mask = last_long_mask(n_bits)
    if mask != -1:
        g[:, -1] &= mask
    return g


def np_popcount_rows(genomes) -> "object":
    """Row-wise ONEMAX fitness over an (N, nl) int64 matrix, popcounted
    in row blocks of at most STEP_BYTES (the SWAR popcount builds five
    temporaries the size of its input)."""
    import numpy as np

    from . import prng

    n, nl = genomes.shape
    step = max(1, STEP_BYTES // (8 * nl))
    out = np.empty(n, dtype=np.int64)
    for lo in range(0, n, step):
        out[lo:lo + step] = prng.np_popcount64(genomes[lo:lo + step]).sum(axis=1)
    return out


def np_crossover(pa, pb, seed: int | None, pair_keys, n_bits: int):
    """Both children for each pair row (child1 = (a & m) | (b & ~m),
    child2 = (b & m) | (a & ~m) per long, ``reference
    src/edu/illinois/ga/MapReduce.java:174-201``): masks are
    spark_genome_sql's stream under SALT_MASK keyed by the pair key, 4
    bitwise ops per long for both children. ``seed=None``
    draws the masks from numpy's default generator instead, tail long
    masked."""
    import numpy as np

    if seed is None:
        m = np.random.default_rng().integers(
            0, 1 << 64, size=pa.shape, dtype=np.uint64
        ).view(np.int64)
        m[:, -1] &= last_long_mask(n_bits)
    else:
        m = np_genome(seed, pair_keys, n_bits, salt=SALT_MASK)
    # c1 = (pa & m) | (pb & ~m), c2 = (pb & m) | (pa & ~m): d marks the
    # bits where the mask picks the other parent and the parents differ
    d = (pa ^ pb) & m
    return pb ^ d, pa ^ d


def getbit_sql(x: str, bit: str, dialect: str) -> str:
    """Bit ``bit`` (0..63 expr) of int64 ``x`` as 0/1 bigint; arithmetic
    shift is sign-correct in both engines."""
    shr = (
        f"shiftright({x}, cast({bit} as int))"
        if dialect == "spark"
        else f"(({x}) >> ({bit}))"
    )
    return f"cast(({shr}) & 1 as bigint)"
