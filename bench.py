"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query's full plan is executed via the noop sink (no driver collect
overhead — measures scan→compute→shuffle, which is what scales).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from geneticalgorithmsusingmapreduce_spark import (  # noqa: E402
    catalog, runtime,
)
from geneticalgorithmsusingmapreduce_spark.session import (  # noqa: E402
    build_session, local_cpus,
)


def ga_loop_benchmarks(spark) -> dict[str, float]:
    """BASELINE.md targets: sec/generation at the reference's own example
    scale (SGA: 10,000-bit ONEMAX, pop = ceil(1·n·log2 n) = 132,878,
    mirroring `hadoop jar ga.jar 4 4 10000 100 1`; cGA: 1000-bit vector,
    tournament 4). Steady-state timing: one warm generation, then the
    measured one."""
    import pyspark.sql.functions as F

    from geneticalgorithmsusingmapreduce_spark.functions import bits
    from geneticalgorithmsusingmapreduce_spark.operators import (
        cga as cga_ops, fitness as fit_ops, generate,
    )
    from geneticalgorithmsusingmapreduce_spark.plans import sga

    out: dict[str, object] = {}

    # pop = ceil(1·n·log2 n) = 132,878 — the reference's own sizing
    # arithmetic (reference src/edu/illinois/ga/MapReduce.java:454)
    n_bits = 10_000
    pop_size = sga.pop_from_multiplier(n_bits, 1)
    nl = bits.n_longs(n_bits)
    pop = fit_ops.with_fitness(
        generate.random_population(spark, pop_size, n_bits, 42, 32), nl=nl
    ).persist()
    pop.count()
    cur = pop
    best = float("inf")
    for it in range(4):  # gen 0-1 warm Python workers/JIT; gens 2-3 measured
        t0 = time.perf_counter()
        ch = runtime.local_checkpoint_truncated(sga.next_generation(
            cur, n_bits, 42, it, 32
        ))
        ch.count()
        dt = time.perf_counter() - t0
        if it >= 2:  # min-of-2: single-gen readings spike ~4x under GC
            best = min(best, dt)
        if cur is not pop:
            runtime.free_checkpoint(cur)
        cur = ch
    out["sga_10kbit_gen_sec"] = round(best, 4)
    pop.unpersist()
    runtime.free_checkpoint(cur)

    # incr_ga's hardcoded scale: 64,000-bit genomes (1,000 longs), pop
    # 6,000 (reference src/edu/illinois/incr_ga/MapReduce.java:31-32) —
    # exercises the Arrow kernel paths at 6.4x the 10k-bit width
    n_bits, pop_size = 64_000, 6_000
    nl = bits.n_longs(n_bits)
    pop = fit_ops.with_fitness(
        generate.random_population(spark, pop_size, n_bits, 42, 32), nl=nl
    ).persist()
    pop.count()
    cur = pop
    best = float("inf")
    for it in range(3):  # gen 0 warms; gens 1-2 measured (min-of-2)
        t0 = time.perf_counter()
        ch = runtime.local_checkpoint_truncated(sga.next_generation(
            cur, n_bits, 42, it, 32
        ))
        ch.count()
        dt = time.perf_counter() - t0
        if it >= 1:
            best = min(best, dt)
        if cur is not pop:
            runtime.free_checkpoint(cur)
        cur = ch
    out["sga_64kbit_gen_sec"] = round(best, 4)
    pop.unpersist()
    runtime.free_checkpoint(cur)

    # the README's own example command is the 10x multiplier
    # (`hadoop jar ga.jar 4 4 10000 100 10`, reference README:40-41) →
    # pop = ceil(10·n·log2 n) = 1,328,772 at n=10,000 — the scale the
    # papers' convergence claims rest on. Run the real iterative driver
    # for a bounded 4 generations: sec/gen = min over gens >= 2 (gen 0
    # covers generate+evaluate, gen 1 warms Arrow workers), plus the
    # best-fitness trajectory. Reported in ga_convergence (dict entries
    # are popped from the headline total) so the per-query headline
    # stays round-over-round comparable.
    pop10 = sga.pop_from_multiplier(10_000, 10)
    res10 = sga.run_sga(
        spark, n_bits=10_000, pop_size=pop10, seed=42,
        max_generations=4, n_buckets=128,
    )
    out["sga_10kbit_x10_gen_sec"] = {
        "pop": pop10,
        "sec_per_gen": round(
            min(s.wall_ms for s in res10.stats[2:]) / 1000, 3
        ),
        "best_by_gen": [s.best_fitness for s in res10.stats],
    }

    # cGA at the reference's full example sharding (README:53-54 —
    # `cga.jar 4 4 1000 10 10 4 0`: 4-way sharded 1,000-bit model,
    # tournament 4) run ALL THE WAY to the reference's stop rule
    # unConverged == 0 (CGA.java:495). pop=10 is a demonstration
    # population: each update moves a probability by MAX/pop, so the
    # example's theory pop (~115k) needs ~10^4-10^5 generations (the
    # reference example itself runs only 10 iterations and never reaches
    # the stop rule); pop=10 runs the identical operator chain and stop
    # semantics to actual convergence inside a benchmark budget.
    from geneticalgorithmsusingmapreduce_spark.plans import cga as cga_plan

    t0 = time.perf_counter()
    res = cga_plan.run_cga(
        spark, num_splits=4, t_size=4, seed=42, max_generations=600,
        pop=10, bits_per_split=250, check_every=8, verbose=False,
    )
    dt = time.perf_counter() - t0
    out["cga_1kbit_converge"] = {
        "sec": round(dt, 4),
        "generations": res.generations + 1,
        "sec_per_gen": round(dt / (res.generations + 1), 4),
        "converged": res.converged,
    }

    vec = generate.init_prob_vectors(spark, 2, 500).persist()  # 1000 bits
    vec.count()
    for it in range(2):
        t0 = time.perf_counter()
        samples = cga_ops.sample_members(vec, 4, 42 + it)
        fits = cga_ops.member_fitness(samples)
        w, l, _ = cga_ops.winner_loser_best(fits)
        nv = cga_ops.update_vectors(vec, w, l, 42 + it, 13_000)
        nv.agg(F.count(F.lit(1))).collect()
        dt = time.perf_counter() - t0
    out["cga_1kbit_gen_sec"] = round(dt, 4)
    vec.unpersist()

    # cGA at a LARGER sharded scale (r4 VERDICT #7): 64 splits x 704
    # bits = 45,056-bit model — 16x the README example's sharding,
    # showing the model-parallel path (explode -> sample -> T-row agg ->
    # shuffle-free update) holds beyond the 4-split demo. Steady-state
    # sec/gen via run_cga's own one-job-per-generation driver (min over
    # the post-warmup generations), plus the best-fitness trajectory.
    res64 = cga_plan.run_cga(
        spark, num_splits=64, t_size=4, seed=42, max_generations=5,
        pop=450_560, verbose=False,
    )
    out["cga_64split_gen_sec"] = {
        "total_bits": 64 * 704,
        "sec_per_gen": round(
            min(s.wall_ms for s in res64.stats[2:]) / 1000, 4
        ),
        "best_by_gen": [s.best_fitness for s in res64.stats],
    }
    return out


def cluster_benchmarks(spark, sf_dir: str) -> dict[str, float]:
    """Full-size and skewed pair-graph clustering rows. The gate entries
    (dedup_clusters[_star], corpus_curation_neardup) run over the 1-in-4
    clusters_corpus slice since r5 (driver-budget ask, r4 VERDICT #3),
    so the scale evidence lives here instead: the FULL augmented-corpus
    pair graph through both clustering algorithms, plus a deliberately
    skewed synthetic graph (one hub whose key carries 100k edges — the
    worst case for the per-key grouped mins — alongside 500 16-node
    chains) comparing star contraction vs min-label propagation at
    bench scale (r4 VERDICT #6)."""
    import pyspark.sql.functions as F

    from geneticalgorithmsusingmapreduce_spark.operators import (
        dedup as dedup_ops, textops,
    )

    out: dict[str, float] = {}

    # full-size pair graph (the pre-r5 gate fixture, kept full here)
    docs = textops.augmented_corpus(spark, sf_dir)
    shingles = textops.shingles_hashed(docs).persist()
    t0 = time.perf_counter()
    sigs = textops.minhash_signatures(docs, shingles=shingles)
    cands = textops.lsh_candidate_pairs(sigs)
    pairs = textops.jaccard_pairs(docs, cands, shingles=shingles).persist()
    n_pairs = pairs.count()
    out["neardup_pairgen_full_sec"] = round(time.perf_counter() - t0, 4)
    for key, fn in (
        ("cluster_minlabel_full_sec", dedup_ops.cluster_pairs),
        ("cluster_star_full_sec", dedup_ops.cluster_pairs_star),
    ):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            n = fn(pairs).count()
            best = min(best, time.perf_counter() - t0)
        out[key] = round(best, 4)
    shingles.unpersist()
    pairs.unpersist()

    # skewed graph: hub 0 with 100,000 spokes (every edge shares the hub
    # key) + 500 disjoint 16-node chains (diameter stress for min-label)
    hub = spark.range(1, 100_001).select(
        F.lit(0).alias("doc_a"), F.col("id").alias("doc_b")
    )
    chains = spark.range(500 * 15).select(
        F.expr("200000 + id div 15 * 100 + id % 15").alias("doc_a"),
        F.expr("200000 + id div 15 * 100 + id % 15 + 1").alias("doc_b"),
    )
    skew = hub.unionByName(chains).persist()
    n_skew = skew.count()
    for key, fn in (
        ("cluster_minlabel_skew_sec",
         lambda p: dedup_ops.cluster_pairs(p, max_iters=20)),
        ("cluster_star_skew_sec", dedup_ops.cluster_pairs_star),
    ):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            n = fn(skew).count()
            assert n == 100_001 + 500 * 16, (key, n, n_skew, n_pairs)
            best = min(best, time.perf_counter() - t0)
        out[key] = round(best, 4)
    skew.unpersist()
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # idle-box guard (r10 VERDICT #1): the r10 official reading was taken
    # at load 21+ on a 32-thread box (the builder's own sf100 probes were
    # draining) and recorded a phantom 2x regression. A contended reading
    # must never silently become the official number again — annotate the
    # start-of-run load average in BOTH output lines and flag readings
    # taken on a busy box. Annotation, not refusal: the driver contract
    # is "print ONE JSON line", so the bench always completes.
    load_1m = round(os.getloadavg()[0], 2)
    # threshold scales with the box (r11 ADVICE: a hardcoded ">4 on 32
    # cores" is too lax on a 4-core box and too strict on a 128-core
    # one): >1/8 of the cores runnable at start = not idle. cpus is the
    # session's local[N] core count, not the host's, and is recorded in
    # both output lines so a reading's guard is auditable.
    cpus = local_cpus()
    contended = load_1m > 0.125 * cpus
    if contended:
        print(
            f"WARNING: load average {load_1m} at bench start — timings "
            "will be inflated by contention; rerun on an idle box for an "
            "official reading",
            file=sys.stderr,
        )
    spark = build_session("gamr-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    # run entries that spin up heavyweight machinery (streaming state
    # stores, RDD sequence-file codecs, foreachBatch loops) LAST: their
    # executor-side residue (state maintenance, memory-sink retention,
    # GC pressure) measurably inflates whatever large sort/window job
    # runs next — observed as a phantom 4x on the first query after the
    # stateful stream. Ordering is measurement isolation, not a speedup.
    heavy_tail = (
        "sequencefile_roundtrip", "streaming_running_best",
        "streaming_dedup", "streaming_windowed_counts", "incremental_sga",
        "streaming_neardup", "streaming_neardup_guarded",
        "emb_ivf_append_int8",
        # the two r10 foreachBatch lifecycle entries ran MID-bench in
        # r10/r11 readings, violating this very isolation rule — their
        # streaming-state residue inflated the int8/pq neighbors
        # (emb_ivf_recall_pq_rerank +1.3 s in the r11 clean run)
        "emb_ivf_append_compacted", "emb_ivf_rebuild_gen",
        "streaming_semdedup", "streaming_semdedup_durable",
    )
    # r2→r3 regression audit (cga_member_fitness 0.16→0.62 s, cga_sample
    # 0.11→0.27 s in BENCH_r02): timed in ISOLATION at sf0.1 (fresh
    # session, nothing else running, min of 3 warm runs) they measure
    # 0.32 s and 0.28 s — cga_member_fitness's r2 reading carried ~2x of
    # bench-ordering drag (GC/JIT residue from neighboring entries), and
    # the remaining delta vs r1 sits inside per-query fixed overhead
    # (job launch + codegen compile ≈ 0.1-0.2 s) at sub-half-second
    # absolute scale. Plan audit: explode → hash-agg with map-side
    # partials, one exchange, no HOFs — nothing scale-relevant changed.
    def run_one(name, fn):
        best = float("inf")
        for run in range(3):  # min over ALL runs: the warm-up is usually
            # slowest (plan compile/JIT) so including it is free, and on a
            # machine with ~6 cores of background load any single reading
            # can spike 4-10x — min is the only stable estimator here.
            # clearCache: entries that persist() a shared subtree
            # (LSH/ngram dedup) would otherwise leak one copy per run.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        # stderr progress only — stdout stays the one-JSON-line contract
        print(f"[bench] {name}: {best:.2f}s", file=sys.stderr, flush=True)

    for name, fn in catalog.QUERIES.items():
        if name not in heavy_tail:
            run_one(name, fn)
    timings.update(ga_loop_benchmarks(spark))  # before the heavy tail too
    timings.update(cluster_benchmarks(spark, sf_dir))
    for name in heavy_tail:
        if name in catalog.QUERIES:
            run_one(name, catalog.QUERIES[name])
    # the full-convergence GA runs are reported separately (generations +
    # sec/gen, not a per-query timing) so the round-over-round headline
    # total stays comparable
    convergence = {
        k: timings.pop(k) for k in list(timings)
        if isinstance(timings[k], dict)
    }

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # detailed per-query line first (for humans / local diffing) ...
    print(json.dumps({
        "metric": "headline_queries_detail",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "ga_convergence": convergence,
        "sf": sf_val,
        "load_1m_at_start": load_1m,
        "cpus": cpus,
        "contended": contended,
    }))
    # ... then a compact FINAL line: the driver captures the tail of
    # stdout, and r2's single 2.5 KB line was truncated mid-JSON
    # ("parsed": null — the headline number was lost). Keep this line
    # small and last so it always fits the capture window.
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "load_1m_at_start": load_1m,
        "cpus": cpus,
        "contended": contended,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
