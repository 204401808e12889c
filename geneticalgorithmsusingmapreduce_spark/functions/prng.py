"""Seeded deterministic PRNG (SURVEY.md §7.4) built on ``xxhash64``.

The reference's stochastic operators use Java ``Random`` (genome init
``reference src/edu/illinois/ga/MapReduce.java:67-81``, random partitioner
``:39-50``, Bernoulli sampling ``reference src/edu/illinois/ga/CGA.java:101-115``).
True randomness can't be cross-checked, so every stochastic operator here
derives its randomness as ``xxhash64(seed, key..., index)``:

* **Spark side**: the built-in ``xxhash64`` expression — JVM-side, inside
  whole-stage codegen, one call yields 64 uniform bits. Measured 58× faster
  at sf0.1 than an equivalent arithmetic LCG chain evaluated through
  higher-order-function lambdas (which Spark interprets, not codegens).
  Corollary: hot paths build arrays with **literal indices**
  (``F.array(h(0), h(1), ...)``) rather than ``transform(sequence(...))``.

* **DuckDB side** (oracle only, sf0.01): a bit-exact replica of Spark's
  XXH64-for-int64 chain, emitted as a *linear* sequence of lateral column
  aliases (each step names the previous — naive expression nesting grows
  exponentially). Unsigned 64-bit wraparound is simulated in HUGEINT:
  ``a*b mod 2^64`` splits b into 32-bit halves so products stay < 2^127.

Spark semantics replicated (XXH64 with one 8-byte block per bigint column,
seed 42, columns chained left to right):

    hash = seed
    for v in cols:   # each cast to bigint — int32 cols hash differently!
        k  = rotl(u64(v) * P2, 31) * P1
        h  = (hash + P5 + 8) xor k
        h  = rotl(h, 27) * P1 + P4
        hash = fmix(h)   # h ^= h>>33; h*=P2; h ^= h>>29; h*=P3; h ^= h>>32

Truly-random behavior (the reference's) stays available: operators accept
``seed=None`` and switch to ``F.rand()``, with rows-only oracle checks.
"""

from __future__ import annotations

import itertools

P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
M64 = 1 << 64
SPARK_XXH_SEED = 42  # fixed inside Spark's xxhash64 expression

_uid = itertools.count()


# --------------------------------------------------------------------------
# Spark side: thin wrappers over the built-in.
# --------------------------------------------------------------------------

def spark_hash(*cols: str) -> str:
    """Full-range uniform int64. Cast every input to bigint — Spark hashes
    int32 via a different (4-byte) path."""
    args = ", ".join(f"cast({c} as bigint)" for c in cols)
    return f"xxhash64({args})"


def spark_unit_bits(h: str, k: int) -> str:
    """Top ``k`` bits of signed hash ``h`` as a nonnegative value in
    [0, 2^k) — arithmetic shift + re-center."""
    return f"(shiftright({h}, {64 - k}) + {1 << (k - 1)})"


def spark_bernoulli_bit(h: str, p64: str) -> str:
    """0/1 draw with P(1) = p64 / 2^63 — the reference's fixed-point
    probability encoding (p·Long.MAX_VALUE, ``reference
    src/edu/illinois/ga/CGA.java:57,103``). Compares the hash's top 63 bits
    against p64; relative error 2^-63."""
    return f"(CASE WHEN {spark_unit_bits(h, 63)} < ({p64}) THEN 1 ELSE 0 END)"


# --------------------------------------------------------------------------
# DuckDB side: bit-exact XXH64 replica as lateral-alias steps.
# --------------------------------------------------------------------------

def _u(x: str) -> str:
    """signed bigint expr → unsigned value in [0, 2^64) as HUGEINT."""
    return f"(CASE WHEN ({x}) < 0 THEN ({x})::HUGEINT + {M64} ELSE ({x})::HUGEINT END)"


def _umul(a: str, b: int) -> str:
    bl, bh = b & 0xFFFFFFFF, b >> 32
    return (
        f"((({a}) * {bl} + ((({a}) * {bh}) % 4294967296) * 4294967296) % {M64})"
    )


def _rotl(x: str, r: int) -> str:
    return f"(((({x}) * {1 << r}) % {M64}) + (({x}) // {1 << (64 - r)}))"


def _uxor(a: str, b: str) -> str:
    return f"xor(({a})::UBIGINT, ({b})::UBIGINT)::HUGEINT"


def _shr(x: str, r: int) -> str:
    return f"(({x}) // {1 << r})"


def duck_hash_steps(cols: list[str], out: str) -> list[tuple[str, str]]:
    """Emit the XXH64 chain over ``cols`` (signed bigint exprs) as an
    ordered list of (alias, expr) steps; each expr references only source
    columns and *earlier* aliases. The final two aliases are ``out_u``
    (unsigned [0,2^64) HUGEINT) and ``out`` (signed bigint).

    Must be materialized as one projection level per step
    (``duck_hash_query``): DuckDB inlines both lateral aliases and flat
    CTE references by expression substitution, which makes a naive
    single-SELECT emission blow up exponentially in the planner.
    """
    p = f"_x{next(_uid)}"
    steps: list[tuple[str, str]] = []

    def step(expr: str) -> str:
        name = f"{p}_{len(steps)}"
        steps.append((name, expr))
        return name

    h = str(SPARK_XXH_SEED)
    for c in cols:
        ul = step(_u(f"cast({c} as bigint)"))
        k1 = step(_umul(_rotl(_umul(ul, P2), 31), P1))
        acc = step(f"(({h} + {(P5 + 8) % M64}::HUGEINT) % {M64})")
        acc = step(_uxor(acc, k1))
        acc = step(f"(({_umul(_rotl(acc, 27), P1)} + {P4}::HUGEINT) % {M64})")
        acc = step(_uxor(acc, _shr(acc, 33)))
        acc = step(_umul(acc, P2))
        acc = step(_uxor(acc, _shr(acc, 29)))
        acc = step(_umul(acc, P3))
        h = step(_uxor(acc, _shr(acc, 32)))
    steps.append((f"{out}_u", h))
    steps.append((
        out,
        f"(CASE WHEN {h} >= {1 << 63} THEN ({h} - {M64})::BIGINT"
        f" ELSE ({h})::BIGINT END)",
    ))
    return steps


def duck_unit_bits(out: str, k: int) -> str:
    """DuckDB twin of spark_unit_bits, from the unsigned alias ``out_u``."""
    return (
        f"(({out}_u // {1 << (64 - k)})::BIGINT"
        f" + CASE WHEN {out}_u >= {1 << 63} THEN {-(1 << (k - 1))}"
        f" ELSE {1 << (k - 1)} END)"
    )


def duck_bernoulli_bit(out: str, p64: str) -> str:
    return f"(CASE WHEN {duck_unit_bits(out, 63)} < ({p64}) THEN 1 ELSE 0 END)"


def duck_hash_query(
    source_sql: str, cols: list[str], out: str, extra: list[str] | None = None
) -> str:
    """Wrap ``source_sql`` (a SELECT or parenthesized subquery) in one
    nested projection per hash step, so the result relation exposes all
    source columns plus ``out`` / ``out_u``. ``extra`` appends final
    computed columns (may reference ``out``/``out_u``).

    The result is wrapped in a MATERIALIZED CTE: when an outer query
    FILTERS on a chain-derived column, DuckDB's filter pushdown
    substitutes the column's defining expression through every nested
    projection level — each hash step references its predecessor 2-3×,
    so the flattened predicate grows ~3^steps and a 500-row probe took
    30+ s (measured; the whole correctness gate spent ~200 s in such
    filters). The barrier pins each chain to one evaluation per row."""
    cur = f"({source_sql})"
    for name, expr in duck_hash_steps(cols, out):
        cur = f"(SELECT *, {expr} AS {name} FROM {cur} _q{next(_uid)})"
    if extra:
        cur = f"(SELECT *, {', '.join(extra)} FROM {cur} _q{next(_uid)})"
    n = next(_uid)
    return (
        f"(WITH _mz{n} AS MATERIALIZED (SELECT * FROM {cur} _q{n}) "
        f"SELECT * FROM _mz{n})"
    )


def np_xxhash64(cols: list, seed: int = SPARK_XXH_SEED):
    """Vectorized twin of the same chain over numpy arrays (any mix of
    int arrays / python int scalars, broadcast together). uint64 ops wrap
    exactly like the JVM — used by the large-genome Arrow kernels, which
    must emit the *same* stream the SQL expressions would. The chain is
    a fold over ``cols``, so ``seed`` may also be an int64 array: the
    hash of a shared column prefix, ``np_xxhash64(rest,
    seed=np_xxhash64(prefix))`` equals ``np_xxhash64(prefix + rest)``."""
    import numpy as np

    u64 = np.uint64

    def rotl(x, r):
        return (x << u64(r)) | (x >> u64(64 - r))

    def as_u64(c):
        # mask before converting: np.uint64(-1) relies on numpy's
        # deprecated wrap-around int conversion (error in numpy 2)
        if np.isscalar(c):
            return np.uint64(c % M64)
        return np.asarray(c).astype(np.int64).view(np.uint64)

    with np.errstate(over="ignore"):
        h = as_u64(seed)
        for c in cols:
            v = as_u64(c)
            k = rotl(v * u64(P2), 31) * u64(P1)
            acc = (h + u64((P5 + 8) % M64)) ^ k
            acc = rotl(acc, 27) * u64(P1) + u64(P4)
            acc ^= acc >> u64(33)
            acc *= u64(P2)
            acc ^= acc >> u64(29)
            acc *= u64(P3)
            acc ^= acc >> u64(32)
            h = acc
        return h.view(np.int64) if hasattr(h, "view") else np.int64(h)


def np_popcount64(arr):
    """SWAR popcount over uint64 (numpy < 2.0 lacks bitwise_count)."""
    import numpy as np

    u = np.uint64
    x = arr.view(np.uint64) if arr.dtype != np.uint64 else arr
    x = x - ((x >> u(1)) & u(0x5555555555555555))
    x = (x & u(0x3333333333333333)) + ((x >> u(2)) & u(0x3333333333333333))
    x = (x + (x >> u(4))) & u(0x0F0F0F0F0F0F0F0F)
    with np.errstate(over="ignore"):
        return ((x * u(0x0101010101010101)) >> u(56)).astype(np.int64)


def py_xxhash64(cols: list[int], seed: int = SPARK_XXH_SEED) -> int:
    """Pure-Python reference of the same chain (for unit tests)."""
    mask = M64 - 1

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & mask

    h = seed
    for v in cols:
        v &= mask
        k = (rotl((v * P2) & mask, 31) * P1) & mask
        acc = (h + P5 + 8) & mask
        acc ^= k
        acc = ((rotl(acc, 27) * P1) + P4) & mask
        acc ^= acc >> 33
        acc = (acc * P2) & mask
        acc ^= acc >> 29
        acc = (acc * P3) & mask
        acc ^= acc >> 32
        h = acc
    return h - M64 if h >= 1 << 63 else h
