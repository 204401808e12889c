"""The large-genome Arrow/numpy kernels must emit the *same* seeded
streams as the SQL expression forms — one logical operator, two physical
paths (SURVEY.md §7.4: the stream is the spec)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.functions import bits, prng
from geneticalgorithmsusingmapreduce_spark.operators import (
    fitness as fit_ops, generate,
)
from geneticalgorithmsusingmapreduce_spark.plans import sga

WIDE_BITS = 64 * (bits.LARGE_NL + 2)  # just over the dispatch threshold


def test_np_xxhash64_matches_python():
    ks = np.arange(-300, 300, dtype=np.int64)
    got = prng.np_xxhash64([7, ks, 3])
    assert list(got) == [prng.py_xxhash64([7, int(k), 3]) for k in ks]


@pytest.mark.parametrize("n_bits", [1, 100, 64 * 3 + 5, 10_000])
def test_mask_kernels_match_their_direct_formulas(n_bits):
    # np_genome hashes the (seed_salt, key) prefix once per row and
    # np_crossover derives both children from one xor mask; both must
    # equal the direct formulas, tail long included
    keys = np.arange(-40, 260, dtype=np.int64) * 7
    nl = bits.n_longs(n_bits)
    k = np.broadcast_to(keys.reshape(-1, 1), (len(keys), nl))
    j = np.broadcast_to(np.arange(nl, dtype=np.int64), (len(keys), nl))
    want = prng.np_xxhash64([bits.seed_salt(3, bits.SALT_MASK), k, j])
    want[:, -1] &= bits.last_long_mask(n_bits)
    m = bits.np_genome(3, keys, n_bits, salt=bits.SALT_MASK)
    assert np.array_equal(m, want)

    pa = bits.np_genome(1, keys, n_bits)
    pb = bits.np_genome(2, keys, n_bits)
    c1, c2 = bits.np_crossover(pa, pb, 3, keys, n_bits)
    assert np.array_equal(c1, (pa & m) | (pb & ~m))
    assert np.array_equal(c2, (pb & m) | (pa & ~m))


def test_np_popcount_edges():
    v = np.array([-1, 0, 5, 2**62, -(2**63), 2**63 - 1], dtype=np.int64)
    assert list(prng.np_popcount64(v)) == [64, 0, 2, 1, 1, 63]


def test_generate_paths_agree(spark):
    # numpy path (dispatched for WIDE_BITS) vs expression path (forced)
    a = generate.random_population(spark, 300, WIDE_BITS, seed=5)
    b = spark.range(300).select(
        "id", F.expr(bits.spark_genome_sql(5, "id", WIDE_BITS)).alias("genome")
    )
    ra = {r.id: list(r.genome) for r in a.collect()}
    rb = {r.id: list(r.genome) for r in b.collect()}
    assert ra == rb


def test_fitness_paths_agree(spark):
    pop = generate.random_population(spark, 300, WIDE_BITS, seed=5)
    nl = bits.n_longs(WIDE_BITS)
    fast = fit_ops.with_fitness(pop, nl=nl)  # Arrow UDF path
    slow = pop.withColumn(
        "fitness", F.expr(bits.popcount_sql("genome", "spark"))
    )  # interpreted HOF path (always correct)
    fa = {r.id: r.fitness for r in fast.collect()}
    fs = {r.id: r.fitness for r in slow.collect()}
    assert fa == fs


def test_wide_generation_runs_and_conserves_bits(spark):
    nl = bits.n_longs(WIDE_BITS)
    pop = fit_ops.with_fitness(
        generate.random_population(spark, 512, WIDE_BITS, seed=9), nl=nl
    )
    children = sga.next_generation(pop, WIDE_BITS, seed=9, generation=0,
                                   n_buckets=4)
    rows = children.limit(50).collect()
    assert rows and all(len(r.genome) == nl for r in rows)
    # conservation spot check at the aggregate level
    union_in = pop.agg(
        *[F.expr(f"bit_or(element_at(genome, {j + 1}))").alias(f"o{j}")
          for j in range(nl)]
    ).collect()[0]
    union_out = children.agg(
        *[F.expr(f"bit_or(element_at(genome, {j + 1}))").alias(f"o{j}")
          for j in range(nl)]
    ).collect()[0]
    for j in range(nl):
        assert (union_out[j] & ~union_in[j]) == 0


def test_lsh_plane_count_scales_bucket_space(spark):
    # r5: the sign-LSH bucket space must be sizable to the corpus —
    # candidate volume is ~n^2 / 2^(planes+1), so a fixed plane count is
    # quadratic in corpus density. Both dialects take n_planes and fold
    # the same seeded ±1 constants, so any choice stays hash-equal; more
    # planes must strictly shrink the in-bucket pair volume.
    import duckdb

    from geneticalgorithmsusingmapreduce_spark.operators import ann

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    )
    sizes = {}
    for n_planes in (8, 16):
        got = {
            (r.vec_a, r.vec_b, r.dot)
            for r in ann.lsh_near_pairs(emb, n_planes=n_planes).collect()
        }
        duck = {
            tuple(r) for r in con.sql(
                f"SELECT * FROM "
                f"{ann.duck_lsh_near_pairs_sql(n_planes=n_planes)} _q"
            ).fetchall()
        }
        assert got == duck, f"engine mismatch at n_planes={n_planes}"
        sizes[n_planes] = len(got)
    assert sizes[16] < sizes[8]


def test_cosine_banded_recall_and_engine_parity(spark):
    # banding B independent bucket sets is the recall lever for a sized
    # bucket space (recall 1-(1-r)^B); candidates dedupe across bands
    # before the single verify. Both dialects band identically (plane
    # signs seeded seed+b), and more bands can only add pairs.
    import duckdb

    from geneticalgorithmsusingmapreduce_spark.operators import ann

    aug = ann.augmented_embeddings(spark, "/root/testdata/sf0.001")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    )
    sizes = {}
    # (16, 2) / (16, 4): the recall dial at the gate-corpus space;
    # (24, 4): the corpus-sized third-decade space (planes_for_count at
    # 2.2M vectors — r6 VERDICT #2: the equality pin must cover the
    # plane count the sf100 row actually measured)
    for n_planes, bands in ((16, 2), (16, 4), (24, 4)):
        got = {
            (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
            for r in ann.cosine_near_pairs(
                aug, n_planes=n_planes, bands=bands
            ).collect()
        }
        duck = {
            tuple(r) for r in con.sql(
                "SELECT * FROM " + ann.duck_cosine_near_pairs_banded_sql(
                    n_planes=n_planes, bands=bands) + " _q"
            ).fetchall()
        }
        assert got == duck, (
            f"engine mismatch at n_planes={n_planes} bands={bands}"
        )
        sizes[(n_planes, bands)] = got
    # bands only ever ADD candidates; a finer space only ever DROPS them
    assert sizes[(16, 2)] <= sizes[(16, 4)]
    assert sizes[(24, 4)] <= sizes[(16, 4)]


def test_planes_for_count_rule():
    # the ⌈log2(n)⌉+2 sizing rule, pinned at the measured decades:
    # 24 planes at the sf100 corpus (2M + 10% planted = 2.2M vectors)
    # is the config BASELINE.md measured at 1.26×/decade vs 39.28× for
    # a frozen 16-plane space.
    from geneticalgorithmsusingmapreduce_spark.operators import ann

    assert ann.planes_for_count(2_200_000) == 24
    assert ann.planes_for_count(220_000) == 20
    assert ann.planes_for_count(16_384) == 16
    assert ann.planes_for_count(1) == 8          # clamp floor
    assert ann.planes_for_count(10) == 8         # clamp floor
    assert ann.planes_for_count(10**12) == 30    # clamp ceiling
    # monotone non-decreasing across decades
    ns = [10**k for k in range(1, 10)]
    ps = [ann.planes_for_count(n) for n in ns]
    assert ps == sorted(ps)
