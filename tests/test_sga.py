"""SGA pipeline invariants + the reference's convergence-as-oracle test
(SURVEY.md §5.2): ONEMAX must actually converge — the stop rule
best ≥ n_bits − slack is a living assertion of selection pressure,
tournament windowing, and crossover all working together."""

from __future__ import annotations

import contextlib

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


# Arrow batches of 7 rows split buckets across batches, and 3 shuffle
# partitions put several buckets in one kernel partition
SPLIT_BATCHES = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
    "spark.sql.shuffle.partitions": "3",
}


@contextlib.contextmanager
def _confs(spark, confs):
    """Run the block with ``confs`` set on the session, then restore."""
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


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
    got = {key(r) for r in selection.tournament_parents(sh).select(
        "part", "pos", "parent", "parent_fitness").collect()}
    assert got == duck_par
    ch_sql = crossover.duck_children_sql(
        selection.duck_paired_sql(par_sql), N_BITS, seed
    )
    duck_ch = {
        (i, tuple(g), _ones(g))
        for i, g in con.sql(f"SELECT * FROM {ch_sql} _c").fetchall()
    }
    assert len(duck_ch) == 2 * (0 + 0 + 1 + 2 + 2 + 3)
    # the streaming kernel at the session's batch size and with buckets
    # split across 7-row Arrow batches
    for confs in ({}, SPLIT_BATCHES):
        with _confs(spark, confs):
            kernel = {
                (r.id, tuple(r.genome), r.fitness)
                for r in selection.breed_children(sh, N_BITS, seed).collect()
            }
            parents = {key(r) for r in selection.tournament_parents_pandas(
                sh).collect()}
        assert kernel == duck_ch, confs
        assert parents == duck_par, confs


def test_breed_kernel_streams_batches():
    # Spark-free: one 1,000-row bucket in 20 Arrow batches through the
    # breed kernel. Each batch's children must leave before the batch
    # after next is pulled (worker memory is a batch plus O(T) rows,
    # not the bucket), and must equal the kernel's output on the
    # bucket as one batch.
    import numpy as np
    import pyarrow as pa

    t, n, rows_per_batch = selection.TOURNAMENT_SIZE, 1000, 50
    rng = np.random.default_rng(3)
    g = rng.integers(-(2**63), 2**63 - 1, (n, NL), dtype=np.int64)
    fit = rng.integers(0, 8, n)  # coarse fitness: windows hold ties

    def batches(size, pulled):
        for a in range(0, n, size):
            pulled.append(a // size)
            yield pa.RecordBatch.from_pydict({
                "part": np.full(len(fit[a:a + size]), 7, dtype=np.int64),
                "fitness": fit[a:a + size],
                "genome": bits.arrow_list_column(g[a:a + size]),
            })

    pulled, streamed = [], set()
    for out in selection._breed(batches(rows_per_batch, pulled), N_BITS, 9, t):
        for cid, genome in zip(out.column("id").to_pylist(),
                               out.column("genome").to_pylist()):
            # the pair's second parent closes its window at this row
            row = (cid % (1 << 41)) // 2 * 2 + t - 2
            assert pulled[-1] <= row // rows_per_batch + 1, (cid, pulled[-1])
            streamed.add((cid, tuple(genome)))
    whole = {
        (cid, tuple(genome))
        for out in selection._breed(batches(n, []), N_BITS, 9, t)
        for cid, genome in zip(out.column("id").to_pylist(),
                               out.column("genome").to_pylist())
    }
    assert streamed == whole and len(whole) == n


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


def test_wide_fast_path_children_bit_identical(spark):
    # a generation must breed exactly the DuckDB twin's children, with
    # buckets whole in one Arrow batch and split across 7-row batches;
    # one width on each side of LARGE_NL
    import duckdb
    import pyarrow as pa

    for n_bits in (N_BITS, 64 * (bits.LARGE_NL + 2)):
        pop = sga.evaluate(
            generate.random_population(spark, 600, n_bits, seed=5), n_bits
        )
        rows = pop.collect()
        con = duckdb.connect()
        con.register("pop", pa.Table.from_pylist([
            {"id": r.id, "genome": list(r.genome), "fitness": r.fitness}
            for r in rows
        ]))
        q = sga.duck_generation_sql("(SELECT * FROM pop)", n_bits, 5, 0, 8)
        duck = {
            (i, tuple(g), _ones(g))
            for i, g in con.sql(f"SELECT id, genome FROM {q} _q").fetchall()
        }
        assert duck, n_bits
        for confs in ({}, SPLIT_BATCHES):
            with _confs(spark, confs):
                got = {
                    (r.id, tuple(r.genome), r.fitness) for r in
                    sga.next_generation(pop, n_bits, 5, 0, n_buckets=8)
                    .collect()
                }
            assert got == duck, (n_bits, confs)


def test_wide_fast_path_plan_has_no_pivot(spark):
    from test_plans import assert_one_kernel_pass

    pop = sga.evaluate(
        generate.random_population(spark, 400, N_BITS, seed=3), N_BITS
    )
    assert_one_kernel_pass(sga.next_generation(pop, N_BITS, 3, 0, n_buckets=8))


def test_run_sga_rejects_bad_n_buckets(spark):
    # the pair key part·2^40 + pair holds 2^20 buckets; 0 buckets used to
    # fail deep in Spark on `skey % 0`, and ids wrapped from 2^22
    pop = sga.evaluate(
        generate.random_population(spark, 16, 64, seed=3), 64
    )
    for n in (0, -1, (1 << 20) + 1):
        with pytest.raises(ValueError, match="n_buckets"):
            sga.run_sga(spark, n_bits=64, pop_size=8, n_buckets=n)
        with pytest.raises(ValueError, match="n_buckets"):
            sga.next_generation(pop, 64, 3, 0, n_buckets=n)
    for n in (1, 1 << 20):  # both ends are valid (lazy: no job runs)
        sga.next_generation(pop, 64, 3, 0, n_buckets=n)


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
    # fold rode its generation job). AQE turns the action into one job
    # per exchange stage (the bucket exchange and the stats agg's): 15
    # jobs for this run, the initial population's stats and four bred
    # generations. A second exchange per generation adds 4 and fails;
    # the old two-action loop (eager checkpoint + separate agg)
    # measured ~12 per generation.
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    gens = 5
    sga.run_sga(
        spark, n_bits=64, pop_size=64, seed=3,
        max_generations=gens, target_slack=0, n_buckets=4,
    )
    jobs = len(tracker.getJobIdsForGroup(None)) - before
    assert jobs <= gens * 3 + 2, f"{jobs} jobs for {gens} generations"


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
