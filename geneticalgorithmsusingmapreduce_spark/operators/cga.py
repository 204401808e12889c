"""Compact GA operators (SURVEY.md §2: G3/P3 sampling, A3 winner/loser,
J1/J2 co-group, P5 vector update, P6 convergence).

Reference dataflow (``reference src/edu/illinois/ga/CGA.java``): the
probability vector is sharded as 12-long records (``:34``); each generation
a mapper samples T tournament members per split (``:92-124``), writes
per-member partial fitness sums to an HDFS side channel (``:126-164``),
and the reducer *reads the other mappers' side files mid-job* to find the
global winner/loser (``:195-260`` — a barrier-and-broadcast MapReduce can't
express as dataflow, and a race the reference survives only by reduce-after-
map scheduling), then updates each vector split (``:262-309``).

Spark-first redesign (no side files, no race, no join for the update):

* model layout is **exploded**: one row (split_id, bit, p64) per model bit
  — every operator below is a codegen'd projection or hash aggregation.
* sampling is a deterministic function  bit(member) = Bernoulli(p64) keyed
  by xxhash64(seed, global_bit, member) — so the winner's and loser's
  sampled genomes can be *recomputed* inside the update projection given
  just the two scalar ids. Stage 1: samples → groupBy(member) partial+final
  sum (T rows). Driver collects winner/loser (J2's broadcast of global
  scalars). Stage 2: shuffle-free projection updates every bit.
  At 100 TB of model rows this is two narrow passes with one T-row
  exchange between them — optimal.
* fixed-point int64 probabilities are kept exactly as the reference
  encodes them (p·Long.MAX_VALUE, ``:57,103,276``); the update clamps to
  [0, Long.MAX_VALUE] instead of silently wrapping (divergence from the
  reference's unchecked overflow, documented per SURVEY.md §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import bits, prng

LONG_MAX = 2**63 - 1
BITS_PER_SPLIT = 704  # reference: 11 payload longs × 64, CGA.java:34
# convergence band limits, reference CGA.java:350-352
LO_FRAC, HI_FRAC = 0.1, 0.501
LO64 = int(LO_FRAC * LONG_MAX)
HI64 = int(HI_FRAC * LONG_MAX)

_GBIT = f"(split_id * {BITS_PER_SPLIT} + bit)"


def _sample_hash(gen_seed: int, member: str) -> str:
    ss = bits.seed_salt(gen_seed, bits.SALT_SAMPLE)
    return prng.spark_hash(str(ss), _GBIT, member)


def sample_members(
    vectors: DataFrame, t_size: int, gen_seed: int
) -> DataFrame:
    """G3/P3: T Bernoulli-sampled tournament members per model bit →
    [split_id, bit, member, sampled_bit]. The reference also re-emits the
    vector under tag T (U1) because MapReduce must push all data through
    one shuffle; here the vector stays where it is (no tagged union
    needed — documented equivalence)."""
    d = vectors.select(
        "split_id", "bit", "p64",
        F.explode(F.expr(f"sequence(0, {t_size - 1})")).alias("member"),
    )
    b = prng.spark_bernoulli_bit(_sample_hash(gen_seed, "member"), "p64")
    return d.select(
        "split_id", "bit", "member",
        F.expr(b).cast("bigint").alias("sampled_bit"),
    )


def member_fitness(samples: DataFrame) -> DataFrame:
    """A3: ONEMAX fitness per tournament member over the *whole* distributed
    genome — partial sums map-side, T-row final (replaces the side-file
    fold at ``reference src/edu/illinois/ga/CGA.java:226-228``)."""
    return samples.groupBy("member").agg(
        F.sum("sampled_bit").alias("fitness")
    )


def winner_loser_best(fits: DataFrame) -> tuple[int, int, int]:
    """A3 final: (winner, loser, best fitness) in one T-row agg. Winner
    and loser are the argmax/argmin member, ties to the smaller member
    id (deterministic; the reference's scan order does the same,
    ``reference src/edu/illinois/ga/CGA.java:245-254``); the winner's
    fitness is the best, which the iterative driver records.

    Struct ordering keys, not ``fitness * 8192 ± member``: a scalar-
    composed key silently corrupts the ordering once t_size ≥ 8192 (the
    member term overwhelms a 1-unit fitness difference). The DuckDB
    oracle keeps the scalar form (its arg_max takes scalar keys only);
    equivalent there because oracle runs use t_size = 4."""
    row = fits.agg(
        F.expr("max_by(member, struct(fitness, -member))").alias("w"),
        F.expr("min_by(member, struct(fitness, member))").alias("l"),
        F.max("fitness").alias("best"),
    ).collect()[0]
    return int(row.w), int(row.l), int(row.best)


def update_vectors(
    vectors: DataFrame, w: int, l: int, gen_seed: int, pop: int
) -> DataFrame:
    """P5 + J2: per bit — if winner bit ≠ loser bit, move p64 by ±delta
    (delta = Long.MAX_VALUE/pop, ``reference src/edu/illinois/ga/CGA.java:276``).
    The winner/loser genomes are recomputed from the seeded stream instead
    of joined (shuffle-free projection); clamped to [0, MAX] (the reference
    would wrap, §2.13)."""
    delta = LONG_MAX // pop
    wb = prng.spark_bernoulli_bit(_sample_hash(gen_seed, str(w)), "p64")
    lb = prng.spark_bernoulli_bit(_sample_hash(gen_seed, str(l)), "p64")
    new_p = (
        f"CASE WHEN ({wb}) = ({lb}) THEN p64 "
        f"WHEN ({wb}) = 1 THEN least(p64, {LONG_MAX - delta}) + {delta} "
        f"ELSE greatest(p64, {delta}) - {delta} END"
    )
    return vectors.select(
        "split_id", "bit", F.expr(new_p).alias("p64")
    )


def update_vectors_join(
    vectors: DataFrame, samples: DataFrame, w: int, l: int, pop: int
) -> DataFrame:
    """J1 as an honest equi-join (literal-fidelity variant of
    update_vectors): the reference multiplexes T sampled individuals + the
    vector through one shuffle keyed by split and co-groups them in the
    reducer (``reference src/edu/illinois/ga/CGA.java:262-309``). Here the
    winner's and loser's bits join back to the model on (split_id, bit).
    Produces identical output to the recomputing variant and costs one
    extra shuffle of the sampled bits; it is the registered J1 capability
    (``cga_update_join``, checked against cga_generation's oracle)."""
    delta = LONG_MAX // pop
    wl = (
        samples.filter(F.col("member").isin(w, l))
        .groupBy("split_id", "bit")
        .agg(
            F.max_by("sampled_bit", F.expr(f"CASE WHEN member = {w} THEN 1 ELSE 0 END")).alias("wb"),
            F.max_by("sampled_bit", F.expr(f"CASE WHEN member = {l} THEN 1 ELSE 0 END")).alias("lb"),
        )
    )
    new_p = (
        f"CASE WHEN wb = lb THEN p64 "
        f"WHEN wb = 1 THEN least(p64, {LONG_MAX - delta}) + {delta} "
        f"ELSE greatest(p64, {delta}) - {delta} END"
    )
    return (
        vectors.join(wl, ["split_id", "bit"])
        .select("split_id", "bit", F.expr(new_p).alias("p64"))
    )


def convergence_stats(vectors: DataFrame) -> DataFrame:
    """P6/A4: count of bits still inside the [0.1, 0.501]·MAX band
    (``reference src/edu/illinois/ga/CGA.java:301,495``)."""
    return vectors.agg(
        F.sum(
            F.expr(
                f"CASE WHEN p64 >= {LO64} AND p64 <= {HI64} THEN 1 ELSE 0 END"
            )
        ).alias("unconverged"),
        F.count(F.lit(1)).alias("model_bits"),
    )


# --------------------------------------------------------------------------
# DuckDB oracle twins
# --------------------------------------------------------------------------

def duck_samples_sql(vectors_sql: str, t_size: int, gen_seed: int) -> str:
    ss = bits.seed_salt(gen_seed, bits.SALT_SAMPLE)
    src = (
        f"SELECT split_id, bit, p64, member, {_GBIT} AS gbit "
        f"FROM {vectors_sql} _v CROSS JOIN range(0, {t_size}) _m(member)"
    )
    hq = prng.duck_hash_query(
        src, [str(ss), "gbit", "member"], "__h",
        extra=[f"{prng.duck_bernoulli_bit('__h', 'p64')}::BIGINT AS sampled_bit"],
    )
    return f"(SELECT split_id, bit, member, sampled_bit FROM {hq} _s)"


def duck_member_fitness_sql(samples_sql: str) -> str:
    return (
        f"(SELECT member, cast(sum(sampled_bit) as bigint) AS fitness "
        f"FROM {samples_sql} _f GROUP BY member)"
    )


def duck_update_sql(
    vectors_sql: str, t_size: int, gen_seed: int, pop: int
) -> str:
    """Full-generation oracle: winner/loser via scalar subqueries over the
    sampled fitness, then the recomputed-bit update projection."""
    delta = LONG_MAX // pop
    ss = bits.seed_salt(gen_seed, bits.SALT_SAMPLE)
    fits = duck_member_fitness_sql(duck_samples_sql(vectors_sql, t_size, gen_seed))
    wl = (
        f"(SELECT arg_max(member, fitness * 8192 - member) AS w, "
        f"arg_min(member, fitness * 8192 + member) AS l FROM {fits} _wl)"
    )
    src = (
        f"SELECT split_id, bit, p64, w, l, {_GBIT} AS gbit "
        f"FROM {vectors_sql} _v CROSS JOIN {wl} _x"
    )
    h1 = prng.duck_hash_query(src, [str(ss), "gbit", "w"], "__hw")
    h2 = prng.duck_hash_query(h1, [str(ss), "gbit", "l"], "__hl")
    wb = prng.duck_bernoulli_bit("__hw", "p64")
    lb = prng.duck_bernoulli_bit("__hl", "p64")
    new_p = (
        f"CASE WHEN ({wb}) = ({lb}) THEN p64 "
        f"WHEN ({wb}) = 1 THEN least(p64, {LONG_MAX - delta}) + {delta} "
        f"ELSE greatest(p64, {delta}) - {delta} END"
    )
    return f"(SELECT split_id, bit, {new_p} AS p64 FROM {h2} _u)"


def duck_convergence_sql(vectors_sql: str) -> str:
    return (
        f"(SELECT cast(sum(CASE WHEN p64 >= {LO64} AND p64 <= {HI64} "
        f"THEN 1 ELSE 0 END) as bigint) AS unconverged, "
        f"count(*) AS model_bits FROM {vectors_sql} _c)"
    )
