"""Bit-flip mutation: rate accuracy, kernel/DuckDB-twin parity and
column pass-through."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.functions import bits
from geneticalgorithmsusingmapreduce_spark.operators import (
    fitness as fit_ops, generate, mutate,
)


def test_flip_rate_close_to_nominal(spark):
    pop = generate.random_population(spark, 2000, 256, seed=1)
    mut = mutate.apply_mutation(pop, 256, rate=0.05, seed=9)
    j = pop.alias("a").join(mut.alias("b"), "id")
    flips = j.select(
        F.expr(
            "+".join(
                f"bit_count(element_at(a.genome, {k+1}) ^ element_at(b.genome, {k+1}))"
                for k in range(4)
            )
        ).alias("f")
    ).agg(F.sum("f")).collect()[0][0]
    rate = flips / (2000 * 256)
    assert abs(rate - 0.05) < 0.005


def test_numpy_mask_matches_expression(spark):
    # the Arrow UDF equals the per-bit DuckDB twin row for row at one long
    # (the sga_mutation entry's width), a 2-bit tail and four full longs,
    # and every other column keeps its name, place and value
    seed, rate = 4, 0.1
    con = duckdb.connect()
    for n_bits in (64, 130, 256):
        pop = fit_ops.with_fitness(
            generate.random_population(spark, 300, n_bits, seed=2),
            nl=bits.n_longs(n_bits),
        ).withColumn("tag", F.concat(F.lit("r"), F.col("id").cast("string")))
        mut = mutate.apply_mutation(pop, n_bits, rate, seed)
        assert mut.columns == ["id", "genome", "fitness", "tag"]
        rows = mut.collect()
        assert {r.id: (r.fitness, r.tag) for r in rows} == {
            r.id: (r.fitness, r.tag) for r in pop.collect()
        }
        src = generate.population_gen_duckdb_sql(300, n_bits, 2)
        duck = con.sql(
            "SELECT * FROM " + mutate.duck_mutation_query(
                f"SELECT id, genome FROM {src} _p", seed, n_bits, rate
            ) + " _m"
        ).fetchall()
        assert {r.id: list(r.genome) for r in rows} == {
            i: list(g) for i, g in duck
        }, n_bits


def test_numpy_mask_memory_is_bounded():
    # 1,000 rows at 10,000 bits: the mask itself is 1.3 MB, and building
    # it must not hold (rows × n_bits) draw matrices (257 MB when it did)
    import tracemalloc

    import numpy as np

    tracemalloc.start()
    try:
        mutate.np_mutation_mask(
            bits.seed_salt(3, mutate.SALT_MUTATE), np.arange(1000), 10_000,
            mutate._t21(1e-2),
        )
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 64 << 20, peak


def test_sparse_mutation_rate_and_determinism(spark):
    # the low-rate Poisson path: measured flip rate ≈ nominal, and the
    # same seed reproduces the exact same flips
    pop = generate.random_population(spark, 3000, 1024, seed=6)
    nl = 16
    a = mutate.apply_mutation_sparse(pop, 1024, rate=0.002, seed=31)
    b = mutate.apply_mutation_sparse(pop, 1024, rate=0.002, seed=31)
    ra = sorted((r.id, tuple(r.genome)) for r in a.collect())
    rb = sorted((r.id, tuple(r.genome)) for r in b.collect())
    assert ra == rb  # deterministic given the seed
    j = pop.alias("x").join(a.alias("y"), "id")
    flips = j.selectExpr(
        "sum(" + "+".join(
            f"bit_count(element_at(x.genome,{k+1}) ^ element_at(y.genome,{k+1}))"
            for k in range(nl)
        ) + ") AS f"
    ).collect()[0].f
    rate = flips / (3000 * 1024)
    assert abs(rate - 0.002) < 0.0005


def test_mutation_preserves_tail_mask(spark):
    pop = generate.random_population(spark, 500, 130, seed=3)  # 2-bit tail
    mut = mutate.apply_mutation(pop, 130, rate=0.5, seed=7)
    mx = mut.selectExpr("max(element_at(genome, 3)) AS m").collect()[0].m
    assert 0 <= mx <= 3
