"""SGA pipeline invariants + the reference's convergence-as-oracle test
(SURVEY.md §5.2): ONEMAX must actually converge — the stop rule
best ≥ n_bits − slack is a living assertion of selection pressure,
tournament windowing, and crossover all working together."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.functions import bits
from geneticalgorithmsusingmapreduce_spark.operators import (
    selection, shuffle,
)
from geneticalgorithmsusingmapreduce_spark.operators import fitness as fit_ops
from geneticalgorithmsusingmapreduce_spark.operators import generate
from geneticalgorithmsusingmapreduce_spark.plans import sga

N_BITS = 128
NL = bits.n_longs(N_BITS)


def _ones(genome) -> int:
    """Reference ONEMAX fitness of one genome (Python ints)."""
    return sum(bin(x & (2**64 - 1)).count("1") for x in genome)


@pytest.fixture(scope="module")
def pop(spark):
    p = fit_ops.with_fitness(
        generate.random_population(spark, 1024, N_BITS, seed=7), nl=NL
    )
    p.persist().count()
    yield p
    p.unpersist()


def test_shuffle_uniform_buckets(pop):
    sh = shuffle.with_shuffle_key(pop, seed=3, n_buckets=8)
    counts = [r.n for r in sh.groupBy("part").agg(F.count("*").alias("n")).collect()]
    assert len(counts) == 8
    assert max(counts) - min(counts) < 250  # ~uniform routing (1024/8 = 128 ± noise)


def test_tournament_preserves_count_and_pressure(pop):
    sh = shuffle.with_shuffle_key(pop, seed=3, n_buckets=8)
    parents = selection.tournament_parents(sh)
    assert parents.count() == 1024  # one parent per individual (wrap-around)
    avg_in = pop.agg(F.avg("fitness")).collect()[0][0]
    avg_par = parents.agg(F.avg("parent_fitness")).collect()[0][0]
    # tournament-5 selection must lift average fitness materially
    assert avg_par > avg_in + 2


def test_small_buckets_kernel_reducer_and_oracle_agree(spark):
    # buckets of 1..6 rows: below T-1 rows the wrap-around yields
    # max(0, 2n - (T-1)) parents, not n (0, 0, 2 for n = 1, 2, 3). The
    # kernel route, the W3 reducer, the window form and the DuckDB twin
    # must agree row for row; fitness is coarsened so windows hold ties.
    import duckdb
    import pyarrow as pa

    from geneticalgorithmsusingmapreduce_spark.operators import crossover

    seed = 29
    src = generate.random_population(spark, 21, N_BITS, seed=4).collect()
    rows, i = [], 0
    for part, n in enumerate(range(1, 7)):
        for _ in range(n):
            r = src[i]
            fit = _ones(r.genome) // 8
            rows.append((r.id, list(r.genome), fit, (r.id * 7919) % 101, part))
            i += 1
    cols = ["id", "genome", "fitness", "skey", "part"]
    sh = spark.createDataFrame(
        rows, "id long, genome array<long>, fitness long, skey long, part long"
    ).withColumn(  # non-null elements, like the engine's genome arrays
        "genome", F.expr("transform(genome, x -> coalesce(x, 0L))")
    )
    con = duckdb.connect()
    con.register("sh", pa.Table.from_pylist([dict(zip(cols, r)) for r in rows]))
    par_sql = selection.duck_tournament_sql(
        "(SELECT id, genome, fitness, skey, part FROM sh)"
    )

    def key(r):
        return tuple(tuple(v) if isinstance(v, list) else v for v in r)

    duck_par = {key(r) for r in con.sql(f"SELECT * FROM {par_sql} _p").fetchall()}
    per_part = [sum(1 for r in duck_par if r[0] == p) for p in range(6)]
    assert per_part == [0, 0, 2, 4, 5, 6]
    for df in (selection.tournament_parents_pandas(sh),
               selection.tournament_parents(sh)):
        got = {key(r) for r in df.select(
            "part", "pos", "parent", "parent_fitness").collect()}
        assert got == duck_par
    ch_sql = crossover.duck_children_sql(
        selection.duck_paired_sql(par_sql), N_BITS, seed
    )
    duck_ch = {
        (i, tuple(g), _ones(g))
        for i, g in con.sql(f"SELECT * FROM {ch_sql} _c").fetchall()
    }
    kernel = {
        (r.id, tuple(r.genome), r.fitness)
        for r in selection.breed_children(sh, N_BITS, seed).collect()
    }
    assert kernel == duck_ch and len(kernel) == 2 * (0 + 0 + 1 + 2 + 2 + 3)


def test_pairing_and_children_counts(spark, pop):
    children = sga.next_generation(pop, N_BITS, seed=3, generation=0, n_buckets=8)
    n = children.count()
    # each bucket of b individuals yields b parents → 2·floor(b/2) children
    # (the odd tail parent drops, reference pairs every 2nd selection)
    gen_seed = 3 * 1_000_033  # seed folding inside next_generation, gen 0
    sizes = [
        r.b for r in shuffle.with_shuffle_key(pop, gen_seed, n_buckets=8)
        .groupBy("part").agg(F.count("*").alias("b")).collect()
    ]
    assert n == sum(b - (b % 2) for b in sizes)
    assert children.select("id").distinct().count() == n  # unique child ids


def test_children_bits_come_from_parents(spark, pop):
    # global bit-conservation: every child bit position is set only if some
    # individual had it set (no spontaneous bits without mutation)
    union_in = pop.agg(
        *[F.expr(f"bit_or(element_at(genome, {j+1}))").alias(f"o{j}") for j in range(NL)]
    ).collect()[0]
    children = sga.next_generation(pop, N_BITS, seed=3, generation=0, n_buckets=8)
    union_out = children.agg(
        *[F.expr(f"bit_or(element_at(genome, {j+1}))").alias(f"o{j}") for j in range(NL)]
    ).collect()[0]
    for j in range(NL):
        assert (union_out[j] & ~union_in[j]) == 0


def test_run_sga_converges(spark):
    res = sga.run_sga(
        spark, n_bits=N_BITS, pop_size=2048, seed=11,
        max_generations=40, target_slack=12, n_buckets=8,
    )
    assert res.converged, f"no convergence in 40 gens; best={res.best_fitness}"
    firsts = [s.best_fitness for s in res.stats[:3]]
    assert res.best_fitness >= N_BITS - 12 > max(firsts)  # real progress
    # monotone-ish trend: late best ≥ early best (elitism-free GA can dip,
    # but the reference's telemetry expectation is an upward trend)
    assert res.stats[-1].best_fitness >= res.stats[0].best_fitness


def test_run_sga_bucketed_storage_identical_trajectory(spark):
    # r9 (r8 VERDICT #1): storage="bucketed" writes each generation as
    # a bucketed-by-id table and feeds it back as the id-unique genome
    # lookup — a pure MATERIALIZATION strategy change, so the seeded
    # trajectory must be bit-identical to the in-memory loop
    kw = dict(
        n_bits=N_BITS, pop_size=512, seed=7,
        max_generations=6, target_slack=0, n_buckets=8,
    )
    mem = sga.run_sga(spark, **kw)
    bk = sga.run_sga(spark, storage="bucketed", **kw)
    assert [s.best_fitness for s in bk.stats] == [
        s.best_fitness for s in mem.stats
    ]
    assert [s.pop for s in bk.stats] == [s.pop for s in mem.stats]
    # the store cleans up after itself (no leaked gamr_sga tables)
    leftovers = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("gamr_sga_")
    ]
    assert leftovers == []


def test_wide_fast_path_children_bit_identical(spark):
    # the per-bucket kernel route (small populations) must breed
    # BIT-IDENTICAL evaluated children to the skinny composition — same
    # ordering keys and mask stream, so the only difference is physical.
    # One width inside the literal-expression crossover (nl ≤ LARGE_NL)
    # and one on the numpy crossover (nl > LARGE_NL).
    for n_bits in (N_BITS, 64 * (bits.LARGE_NL + 2)):
        pop = sga.evaluate(
            generate.random_population(spark, 600, n_bits, seed=5), n_bits
        )
        skinny = sga.next_generation(pop, n_bits, 5, 0, n_buckets=8)
        kernel = sga.next_generation(
            pop, n_bits, 5, 0, n_buckets=8, pop_rows=600
        )
        a = {(r.id, tuple(r.genome), r.fitness) for r in skinny.collect()}
        b = {(r.id, tuple(r.genome), r.fitness) for r in kernel.collect()}
        assert a == b and a, n_bits
        assert all(f == _ones(g) for _, g, f in b)


def test_wide_fast_path_routing():
    # threshold arithmetic: within WIDE_PATH_BYTES routes to the
    # per-bucket kernel, above or unknown stays skinny
    from geneticalgorithmsusingmapreduce_spark.functions import bits

    nl = bits.n_longs(10_000)
    assert 132_878 * nl * 8 <= sga.WIDE_PATH_BYTES     # bench 10kbit: kernel
    assert 6_000 * bits.n_longs(64_000) * 8 <= sga.WIDE_PATH_BYTES
    assert 1_328_772 * nl * 8 > sga.WIDE_PATH_BYTES    # README 10x: skinny
    assert 27_856_103 * 4 * 8 > sga.WIDE_PATH_BYTES    # sf10 pop: skinny


def test_wide_fast_path_plan_has_no_pivot(spark):
    pop = sga.evaluate(
        generate.random_population(spark, 400, N_BITS, seed=3), N_BITS
    )
    kernel_plan = sga.next_generation(
        pop, N_BITS, 3, 0, n_buckets=8, pop_rows=400
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "map_from_entries" not in kernel_plan
    assert "FlatMapGroupsInArrow" in kernel_plan
    skinny_plan = sga.next_generation(
        pop, N_BITS, 3, 0, n_buckets=8
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "map_from_entries" in skinny_plan


def test_run_sga_rejects_unknown_storage(spark):
    import pytest

    with pytest.raises(ValueError, match="unknown storage"):
        sga.run_sga(spark, n_bits=64, pop_size=8, storage="s3-magic")


def test_pop_sizing_and_bucket_defaults(spark):
    # reference CLI arithmetic: pop = ceil(x·n·log2 n)
    # (reference src/edu/illinois/ga/MapReduce.java:454)
    assert sga.pop_from_multiplier(10_000, 10) == 1_328_772
    assert sga.pop_from_multiplier(10_000, 1) == 132_878
    assert sga.pop_from_multiplier(256, 1) == 2048
    # bucket default scales with the session's parallelism, not a literal
    assert sga.default_n_buckets(spark) == \
        spark.sparkContext.defaultParallelism * 4


def test_run_sga_one_action_per_generation(spark):
    # the loop's scale contract: ONE action per generation — the stats
    # agg materializes the lazy checkpoint, so produce + lineage-truncate
    # + stats ride the same action (like the reference's side-channel
    # fold rode its generation job). AQE turns one action into one job
    # per exchange stage: the r8 skinny composition runs ~6 stages per
    # generation (1 skinny window exchange + genome-lookup exchange +
    # 2 join-probe exchanges + stats), but the heavy ones are hash
    # repartitions of SKINNY rows — the bound pins action count, not
    # byte volume. The old two-action loop (eager checkpoint + separate
    # agg) measures ~12/generation here and fails this bound.
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    gens = 5
    sga.run_sga(
        spark, n_bits=64, pop_size=64, seed=3,
        max_generations=gens, target_slack=0, n_buckets=4,
    )
    jobs = len(tracker.getJobIdsForGroup(None)) - before
    assert jobs <= gens * 6 + 4, f"{jobs} jobs for {gens} generations"


def test_unseeded_mutation_base_injectable(spark, capsys):
    # r4 nit: seed=None draws its per-run mutation base from an
    # injectable Random, so the unseeded mutation stream is reproducible
    # from a logged state; the chosen base is echoed in telemetry.
    import random

    sga.run_sga(
        spark, n_bits=32, pop_size=16, seed=None, max_generations=1,
        target_slack=0, n_buckets=2, mutation_rate=0.05,
        rng=random.Random(99),
    )
    out = capsys.readouterr().out
    expect = random.Random(99).getrandbits(32)
    assert f"GA:mut_base={expect}" in out


def test_generation_loop_stats_stay_bounded(spark):
    # r8 trap: Dataset.localCheckpoint PRESERVES the source plan's
    # estimated statistics, and the skinny generation's joins make the
    # size-only estimator's product COMPOUND across generations —
    # sizeInBytes digit count doubled per generation (7→15→29→…) until
    # the driver drowned in BigInteger.multiply (~292 s/generation of
    # pure planning by gen 26, at ANY data size). The loop's
    # stats-resetting checkpoint must keep the estimate bounded.
    from geneticalgorithmsusingmapreduce_spark.operators import (
        fitness as fit_ops, generate,
    )
    from geneticalgorithmsusingmapreduce_spark.runtime import (
        local_checkpoint_truncated,
    )

    pop = sga.evaluate(
        generate.random_population(spark, 64, 64, seed=3), 64
    ).persist()
    pop.count()
    digits = []
    for it in range(5):
        ch = sga.next_generation(pop, 64, 3, it, 4)
        new_pop = local_checkpoint_truncated(ch)
        d = len(
            str(
                new_pop._jdf.queryExecution()
                .optimizedPlan().stats().sizeInBytes()
            )
        )
        digits.append(d)
        old = pop
        pop = new_pop
        old.unpersist()
    pop.unpersist()
    # Long.MaxValue default is 19 digits; the un-truncated form reaches
    # 113 digits by generation 4
    assert max(digits) <= 20, digits
    assert digits[-1] == digits[0], digits
