"""Bit-flip mutation (engine extension — the reference SGA has **no**
mutation operator at all: selection + crossover only, which is why its
convergence stalls near the optimum and the stop rule tolerates
``nBits − 10``. A complete GA engine needs one.)

Semantics: each genome bit flips independently with probability ``rate``.
mutated = genome XOR mask, mask bits drawn from the seeded stream — a
numpy kernel and its DuckDB twin.

Draw economics: one xxhash64 yields three independent 21-bit uniforms
(bits 1-21, 22-42, 43-63), so a mask costs ceil(n_bits/3) hashes instead
of n_bits. The flip threshold is quantized to t = p64 >> 42 ∈ [0, 2^21)
— identical in both engines, rate resolution 2^-21 ≈ 5·10^-7 (≪ any
useful mutation rate).

Both kernels are scalar Arrow UDFs over (key, genome) → genome: only
those two columns enter Python, as flat Arrow buffers.
"""

from __future__ import annotations

import pyarrow as pa  # arrow_udf resolves the kernels' pa.Array hints here
from pyspark.sql import DataFrame, functions as F

from ..functions import bits, prng

SALT_MUTATE = 6
LONG_MAX = 2**63 - 1
U21 = (1 << 21) - 1


def _t21(rate: float) -> int:
    return int(rate * LONG_MAX) >> 42


def apply_mutation(
    df: DataFrame, n_bits: int, rate: float, seed: int,
    key: str = "id", genome: str = "genome",
) -> DataFrame:
    """[*df.columns with genome replaced by the mutated genome]: genome
    XOR np_mutation_mask. One kernel serves every width: as an expression
    the per-bit Bernoulli mask costs 64 hash-and-compare terms per long
    and outgrows the 64 KB codegen limit at two longs."""
    nl = bits.n_longs(n_bits)
    ss = bits.seed_salt(seed, SALT_MUTATE)
    t = _t21(rate)

    def mutated(k: pa.Array, g: pa.Array) -> pa.Array:
        mask = np_mutation_mask(ss, k.to_numpy(), n_bits, t)
        return bits.arrow_list_column(bits.np_list_matrix(g, nl) ^ mask)

    return df.withColumn(
        genome, F.arrow_udf(mutated, "array<bigint>")(key, genome)
    )


def np_mutation_mask(ss: int, keys, n_bits: int, t21: int):
    """(N, nl) int64 masks: bit b of long j flips when draw j·64 + b,
    the (j·64 + b) mod 3 slot of hash (seed_salt, key, (j·64 + b) // 3),
    is below ``t21`` — the stream duck_mutation_query rebuilds in SQL.
    Built one long at a time (its 64 draws come from 22 or 23 hashes),
    so the temporaries are rows × 64 whatever n_bits is."""
    import numpy as np

    nl = bits.n_longs(n_bits)
    k = np.asarray(keys, dtype=np.int64).reshape(-1, 1)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    packed = np.empty((len(k), nl), dtype=np.uint64)
    for j in range(nl):
        draw = j * 64 + np.arange(64, dtype=np.int64)
        hi = draw // 3
        h = prng.np_xxhash64(
            [ss, k, np.arange(hi[0], hi[-1] + 1).reshape(1, -1)]
        ).view(np.uint64)
        shift = (1 + draw % 3 * 21).astype(np.uint64)
        u = (h[:, hi - hi[0]] >> shift) & np.uint64(U21)
        packed[:, j] = ((u < np.uint64(t21)) * weights).sum(axis=1)
    packed = packed.view(np.int64)
    m = bits.last_long_mask(n_bits)
    if m != -1:
        packed[:, -1] &= m
    return packed


def apply_mutation_sparse(
    df: DataFrame, n_bits: int, rate: float, seed: int,
    key: str = "id", genome: str = "genome", max_flips: int = 8,
) -> DataFrame:
    """Sparse mutation for low rates at scale: instead of n_bits Bernoulli
    draws per row, draw the flip COUNT from a truncated Poisson
    (λ = n_bits·rate, inverse-CDF on one uniform) and then k flip
    positions — ~(1 + max_flips) hashes per row vs n_bits/3. At the
    reference's 10,000-bit scale this is the difference between ~60 s and
    ~4 s per generation for the mutation step.

    Distribution notes (documented approximations vs the exact per-bit
    form): Binomial(n_bits, rate) ≈ Poisson(λ) truncated at ``max_flips``;
    positions may repeat (two flips cancel) with probability ≈ k²/2n.
    Both are negligible for rate ≈ 1/n_bits. Deterministic given the
    seed (same hash stream), so runs reproduce; cross-engine oracle
    checks use the exact per-bit operator instead."""
    import math

    import numpy as np

    lam = n_bits * rate
    # inverse-CDF thresholds on a 63-bit uniform
    cdf, acc = [], 0.0
    for k in range(max_flips):
        acc += math.exp(-lam) * lam**k / math.factorial(k)
        cdf.append(min(int(acc * (2**63 - 1)), 2**63 - 1))
    thresholds = np.array(cdf, dtype=np.uint64)
    ss = bits.seed_salt(seed, SALT_MUTATE) + 777  # distinct stream
    nl = bits.n_longs(n_bits)

    def mutated(k: pa.Array, g: pa.Array) -> pa.Array:
        keys = k.to_numpy()
        n = len(keys)
        h0 = prng.np_xxhash64([ss, keys, -1]).view(np.uint64) >> np.uint64(1)
        k_flips = np.searchsorted(thresholds, h0, side="right")
        mask = np.zeros((n, nl), dtype=np.uint64)
        for d in range(int(k_flips.max()) if n else 0):
            active = k_flips > d
            if not active.any():
                break
            hp = prng.np_xxhash64([ss, keys[active], d]).view(np.uint64)
            pos = (hp % np.uint64(n_bits)).astype(np.int64)
            rows = np.nonzero(active)[0]
            np.bitwise_xor.at(
                mask, (rows, pos // 64),
                np.uint64(1) << (pos % 64).astype(np.uint64),
            )
        return bits.arrow_list_column(
            bits.np_list_matrix(g, nl) ^ mask.view(np.int64)
        )

    return df.withColumn(
        genome, F.arrow_udf(mutated, "array<bigint>")(key, genome)
    )


def duck_mutation_sparse_query(
    source_sql: str, seed: int, n_bits: int, rate: float,
    key: str = "id", genome: str = "genome", max_flips: int = 8,
) -> str:
    """Oracle twin of ``apply_mutation_sparse`` — the same truncated-
    Poisson flip-count + position draws, in SQL. Per distinct key:
    one hash for the count draw, then ``d < k`` position hashes; repeat
    positions cancel via the bit_xor aggregate exactly like the kernel's
    ``bitwise_xor.at``."""
    import math

    nl = bits.n_longs(n_bits)
    lam = n_bits * rate
    cdf, acc = [], 0.0
    for k in range(max_flips):
        acc += math.exp(-lam) * lam**k / math.factorial(k)
        cdf.append(min(int(acc * (2**63 - 1)), 2**63 - 1))
    ss = bits.seed_salt(seed, SALT_MUTATE) + 777  # kernel's distinct stream
    dk = f"SELECT DISTINCT {key} AS __k FROM ({source_sql}) _sm"
    h0q = prng.duck_hash_query(dk, [str(ss), "__k", "-1"], "__h0")
    # k_flips = searchsorted(cdf, h0 >> 1, 'right') = #{d: cdf[d] <= h0}
    kf_terms = " + ".join(
        f"(CASE WHEN __h0_u // 2 >= {t}::HUGEINT THEN 1 ELSE 0 END)"
        for t in cdf
    )
    flips = f"""(
      SELECT __k, d FROM
        (SELECT __k, ({kf_terms}) AS kf FROM {h0q} _h0) _kf
      CROSS JOIN range(0, {max_flips}) _d(d)
      WHERE d < kf
    )"""
    posq = prng.duck_hash_query(
        flips, [str(ss), "__k", "d"], "__hp",
        extra=[f"(__hp_u % {n_bits})::BIGINT AS pos"],
    )
    weight = (
        "CASE WHEN pos % 64 = 63 THEN (-9223372036854775807)::BIGINT - 1 "
        "ELSE (1::BIGINT << (pos % 64)::INT) END"
    )
    packed = f"""(
      SELECT __k, pos // 64 AS j, bit_xor({weight}) AS ml
      FROM {posq} _ps GROUP BY __k, pos // 64
    )"""
    masks = f"""(
      SELECT a.__k, list(coalesce(p.ml, 0) ORDER BY a.j) AS mask
      FROM (SELECT __k, j FROM ({dk}) _ak
            CROSS JOIN range(0, {nl}) _j(j)) a
      LEFT JOIN {packed} p ON p.__k = a.__k AND p.j = a.j
      GROUP BY a.__k
    )"""
    xo = ", ".join(
        f"xor(list_extract(s.{genome}, {j + 1}), list_extract(m.mask, {j + 1}))"
        for j in range(nl)
    )
    return f"""(
      SELECT s.{key} AS {key}, [{xo}] AS {genome}
      FROM ({source_sql}) s JOIN {masks} m ON m.__k = s.{key}
    )"""


def duck_mutation_query(
    source_sql: str, seed: int, n_bits: int, rate: float,
    key: str = "id", genome: str = "genome",
) -> str:
    """Oracle twin: explode (distinct key, hash idx) → one hash chain →
    three 21-bit draws per hash → Bernoulli → pack per long → XOR."""
    nl = bits.n_longs(n_bits)
    ss = bits.seed_salt(seed, SALT_MUTATE)
    t = _t21(rate)
    m = bits.last_long_mask(n_bits)
    n_hashes = (nl * 64 + 2) // 3
    # masks are a pure function of the key: build over DISTINCT keys
    # (duplicate keys would double-count the packed weights), join back
    base = (
        f"SELECT __k, hi FROM "
        f"(SELECT DISTINCT {key} AS __k FROM ({source_sql}) _mm) _dk "
        f"CROSS JOIN range(0, {n_hashes}) _b(hi)"
    )
    hq = prng.duck_hash_query(base, [str(ss), "__k", "hi"], "__h")
    # 3 bit-index rows per hash: bi = hi*3 + slot
    drawn = f"""(
      SELECT __k, hi * 3 + slot AS bi,
             ((__h_u // (1::HUGEINT << (1 + slot * 21)::INT)) % {U21 + 1})::BIGINT AS u
      FROM {hq} _hh CROSS JOIN range(0, 3) _s(slot)
      WHERE hi * 3 + slot < {nl * 64}
    )"""
    weight = (
        "CASE WHEN bi % 64 = 63 THEN (-9223372036854775807)::BIGINT - 1 "
        "ELSE (1::BIGINT << (bi % 64)::INT) END"
    )
    packed = f"""(
      SELECT __k, bi // 64 AS j,
             cast(sum(CASE WHEN u < {t} THEN {weight} ELSE 0 END)
                  as bigint) AS ml
      FROM {drawn} _hb GROUP BY __k, bi // 64
    )"""
    tail = f" & {m}::BIGINT" if m != -1 else ""
    masks = f"""(
      SELECT __k, list(CASE WHEN j = {nl - 1} THEN ml{tail} ELSE ml END
                       ORDER BY j) AS mask
      FROM {packed} _pk GROUP BY __k
    )"""
    xo = ", ".join(
        # NB: DuckDB's ^ is POWER — integer xor is the xor() function
        f"xor(list_extract(s.{genome}, {j + 1}), list_extract(m.mask, {j + 1}))"
        for j in range(nl)
    )
    return f"""(
      SELECT s.{key} AS {key}, [{xo}] AS {genome}
      FROM ({source_sql}) s JOIN {masks} m ON m.__k = s.{key}
    )"""
