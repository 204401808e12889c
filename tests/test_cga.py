"""cGA invariants + the reference's convergence oracle: every probability
must leave the [0.1, 0.501]·MAX band (unConverged → 0,
``reference src/edu/illinois/ga/CGA.java:495``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from test_runtime_persists import _stored_rdds

from geneticalgorithmsusingmapreduce_spark.operators import cga, generate
from geneticalgorithmsusingmapreduce_spark.plans import cga as cga_plan

LONG_MAX = 2**63 - 1


def test_sample_rate_tracks_probability(spark):
    # at p=0.5 exactly half the bits should be 1 (statistically)
    vec = generate.init_prob_vectors(spark, 4)  # 2816 bits
    s = cga.sample_members(vec, 4, gen_seed=9)
    rate = s.agg(F.avg("sampled_bit")).collect()[0][0]
    assert abs(rate - 0.5) < 0.02


def test_update_moves_by_exact_delta(spark):
    vec = generate.init_prob_vectors(spark, 2)
    pop = 100
    delta = LONG_MAX // pop
    w, l = 1, 3
    upd = cga.update_vectors(vec, w, l, gen_seed=9, pop=pop)
    diff = (
        vec.alias("a").join(upd.alias("b"), ["split_id", "bit"])
        .select((F.col("b.p64") - F.col("a.p64")).alias("d"))
        .groupBy("d").count().collect()
    )
    moves = {r.d for r in diff}
    assert moves <= {-delta, 0, delta}  # P5: exact ±delta or unchanged
    assert delta in moves and -delta in moves


def test_winner_at_least_loser(spark):
    vec = generate.init_prob_vectors(spark, 4)
    fits = cga.member_fitness(cga.sample_members(vec, 4, gen_seed=9))
    rows = {r.member: r.fitness for r in fits.collect()}
    w, l, best = cga.winner_loser_best(fits)
    assert rows[w] == max(rows.values()) == best
    assert rows[l] == min(rows.values())


def test_run_cga_converges(spark):
    # T=8 gives enough per-bit selection bias for the tail bits to escape
    # the band quickly; converges in ~85 generations at this sizing
    res = cga_plan.run_cga(
        spark, num_splits=1, t_size=8, seed=5,
        max_generations=200, pop=200, bits_per_split=64,
    )
    assert res.converged, (
        f"unconverged={res.final_unconverged} after {res.generations} gens"
    )
    # unconverged trend: start high (band contains p=0.5), end at zero
    assert res.stats[0].unconverged > 0
    assert res.stats[-1].unconverged == 0


@pytest.mark.parametrize("check_every", [1, 4])
def test_run_cga_frees_its_checkpoints(spark, check_every):
    # every generation's model is a local checkpoint: unpersist() frees
    # none of its blocks, so the loop must release each one itself
    pre = _stored_rdds(spark)
    cga_plan.run_cga(
        spark, 4, t_size=4, seed=7, max_generations=12, pop=10,
        bits_per_split=16, check_every=check_every, verbose=False,
    )
    assert not (_stored_rdds(spark) - pre), "run_cga left stored RDDs"
