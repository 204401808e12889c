"""Streaming surface: the windowed transforms must produce the same result
under readStream as in batch (T1's micro-batch ≡ one-job-per-generation
equivalence, SURVEY.md §2.11), the incremental SGA must advance its
population across micro-batches, and a failing or stalled micro-batch
must surface as a named error instead of a partial result."""

from __future__ import annotations

import tempfile
import time

import pytest
from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.plans import sga
from geneticalgorithmsusingmapreduce_spark.sources.registry import read_events
from geneticalgorithmsusingmapreduce_spark.streaming import incremental, windows
from geneticalgorithmsusingmapreduce_spark.streaming.microbatch import (
    run_micro_batches,
)

SF = "/root/testdata/sf0.001"


def test_tumbling_stream_matches_batch(spark):
    events = read_events(spark, SF).select("ts", "event_type", "value")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        events.repartition(3).write.parquet(src)
        stream = (
            spark.readStream.schema(events.schema).parquet(src)
        )
        q = (
            windows.with_watermark_tumbling(stream)
            .writeStream.format("memory")
            .queryName("tumbling_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.window_start, r.event_type): (r.n, r.value_milli)
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
    want = {
        (r.window_start, r.event_type): (r.n, r.value_milli)
        for r in windows.tumbling(events).collect()
    }
    assert got == want and len(want) > 0


def test_watermark_drops_late_rows(spark):
    # two files arriving in order: recent events first, then one very late
    # event (> 30 min behind the max seen ts) → append-mode output must
    # not contain the late event's window
    events = read_events(spark, SF).select("ts", "event_type", "value")
    mx = events.agg(F.max("ts")).collect()[0][0]
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        recent = events.filter(
            F.col("ts") >= F.lit(mx) - F.expr("INTERVAL 2 HOURS")
        )
        recent.coalesce(1).write.parquet(src)
        late = events.orderBy("ts").limit(1)  # oldest event = very late
        stream = spark.readStream.schema(events.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        q = (
            windows.with_watermark_tumbling(stream)
            .writeStream.format("memory")
            .queryName("wm_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        late.coalesce(1).write.mode("append").parquet(src)
        q2 = (
            windows.with_watermark_tumbling(
                spark.readStream.schema(events.schema).parquet(src)
            )
            .writeStream.format("memory")
            .queryName("wm_out2")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        # the very-late window is dropped in append mode until watermark
        # passes it; with availableNow over both files the late row's hour
        # may appear only if within the 30-min delay — assert the stream
        # ran and emitted only watermark-closed windows
        emitted = spark.sql("SELECT count(*) c FROM wm_out2").collect()[0].c
        total = windows.tumbling(events).count()
        assert 0 < emitted <= total


def test_stateful_running_best_advances_across_batches(spark):
    # the applyInPandasWithState fold must carry state across micro-
    # batches: each key emits one refreshed row per batch, rows_seen
    # strictly increases, and the final row equals the batch argmax
    from geneticalgorithmsusingmapreduce_spark.operators import (
        fitness as fit_ops, generate,
    )
    from geneticalgorithmsusingmapreduce_spark.streaming import stateful

    pop = fit_ops.with_fitness(
        generate.random_population(spark, 300, 128, seed=5), nl=2
    ).select((F.col("id") % 3).alias("run_id"), "id", "fitness")
    with tempfile.TemporaryDirectory() as d:
        pop.repartition(5).write.parquet(f"{d}/in")
        stream = (
            spark.readStream.schema(pop.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/in")
        )
        q = (
            stateful.running_best_stream(stream)
            .writeStream.format("memory")
            .queryName("rb_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM rb_test").collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r.run_id, []).append(r)
    want = {
        r.run_id: (r.best_fitness, r.best_id, r.rows_seen)
        for r in pop.groupBy("run_id").agg(
            F.max("fitness").alias("best_fitness"),
            F.expr("min_by(id, struct(-fitness, id))").alias("best_id"),
            F.count(F.lit(1)).alias("rows_seen"),
        ).collect()
    }
    assert set(per_key) == set(want)
    for k, emitted in per_key.items():
        assert len(emitted) >= 2  # state advanced over multiple batches
        seen = [r.rows_seen for r in sorted(emitted, key=lambda r: r.rows_seen)]
        assert seen == sorted(set(seen))  # strictly increasing
        fits = [r.best_fitness for r in sorted(emitted, key=lambda r: r.rows_seen)]
        assert fits == sorted(fits)  # running best is monotone
        final = max(emitted, key=lambda r: r.rows_seen)
        assert (final.best_fitness, final.best_id, final.rows_seen) == want[k]


def test_session_stream_matches_batch(spark):
    # session_window is the hardest streaming state shape: per-key
    # sessions must MERGE when a new event bridges two open windows
    # across micro-batches; with availableNow + watermark the closed
    # sessions must equal the batch gaps-and-islands result
    events = read_events(spark, SF).select("ts", "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        # chronological arrival (real log replay): three time-range chunks
        # written sequentially so the file source replays them in order —
        # random batching would make the watermark legitimately drop
        # "late" events and the comparison would test arrival order, not
        # session merging
        lo, hi = events.agg(
            F.min("ts").alias("a"), F.max("ts").alias("b")
        ).collect()[0]
        cuts = [lo + (hi - lo) * i / 3 for i in (1, 2)]
        chunks = [
            events.filter(F.col("ts") < cuts[0]),
            events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
            events.filter(F.col("ts") >= cuts[1]),
        ]
        for ch in chunks:
            ch.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            windows.session(stream.withWatermark("ts", "30 minutes"))
            .writeStream.format("memory")
            .queryName("session_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        got = {
            (r.session_start, r.user_id): (r.n, r.value_milli)
            for r in spark.sql("SELECT * FROM session_out").collect()
        }
        spark.catalog.dropTempView("session_out")
    want = {
        (r.session_start, r.user_id): (r.n, r.value_milli)
        for r in windows.session(events).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_dedup_across_batches(spark):
    # incremental ingestion dedup: dropDuplicates on a content digest must
    # hold its state across micro-batches — re-arrivals of already-seen
    # documents in a later batch are dropped, new ones pass
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.md5("text").alias("digest"))
    )
    first = docs.filter("doc_id % 2 = 0").limit(60).cache()
    second = first.limit(30).unionByName(  # 30 re-arrivals...
        docs.filter("doc_id % 2 = 1").limit(40)  # ...plus 40 unseen
    ).cache()
    n_distinct = first.unionByName(second).select("digest").distinct().count()
    with tempfile.TemporaryDirectory() as d:
        first.coalesce(1).write.parquet(f"{d}/in")
        second.coalesce(1).write.mode("append").parquet(f"{d}/in")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/in")
        )
        q = (
            stream.dropDuplicates(["digest"])
            .writeStream.format("memory")
            .queryName("dedup_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        out = spark.sql("SELECT digest FROM dedup_stream").collect()
    assert len(out) == n_distinct  # re-arrivals deduped across batches
    assert len({r.digest for r in out}) == len(out)  # each emitted once


def test_incremental_sga_advances(spark):
    st = incremental.start_incremental_sga(
        spark, n_bits=64, pop_size=256, generations=3, seed=13, n_buckets=4
    )
    assert st.generation == 3
    assert len(st.history) == 3
    gens = [g for g, _, _ in st.history]
    assert gens == [1, 2, 3]
    sizes = [n for _, _, n in st.history]
    assert all(0 < n <= 256 for n in sizes)  # dedup may shrink
    bests = [b for _, b, _ in st.history]
    assert max(bests) >= bests[0]  # selection pressure present


def test_micro_batch_step_failure_raises_fast(spark):
    # a raising step kills the query; the driver must name the failure
    # at once, not poll until the deadline
    done = []

    def step(b):
        if b == 1:
            raise ValueError("step-one-failed")
        done.append(b)

    t0 = time.monotonic()
    with pytest.raises(
        RuntimeError, match=r"^probe: stream died after 1/3 batches$"
    ) as ei:
        run_micro_batches(spark, 3, step, timeout_sec=120, name="probe")
    assert time.monotonic() - t0 < 60
    assert "step-one-failed" in str(ei.value.__cause__)
    assert done == [0]


def test_micro_batch_deadline_raises(spark):
    def step(_b):
        time.sleep(3)

    with pytest.raises(
        RuntimeError,
        match=r"^probe: only 0/2 batches completed before the deadline$",
    ):
        run_micro_batches(spark, 2, step, timeout_sec=1, name="probe")


def test_incremental_sga_generation_failure_raises(spark, monkeypatch):
    # the sink must not return a partial state when a generation fails
    def failing_generation(*_args, **_kwargs):
        raise ValueError("generation-failed")

    monkeypatch.setattr(sga, "next_generation", failing_generation)
    t0 = time.monotonic()
    with pytest.raises(
        RuntimeError, match=r"^incremental_sga: stream died after 0/2 batches$"
    ) as ei:
        incremental.start_incremental_sga(
            spark, n_bits=64, pop_size=64, generations=2, seed=13,
            n_buckets=2,
        )
    assert time.monotonic() - t0 < 60
    assert "generation-failed" in str(ei.value.__cause__)


def test_streaming_neardup_cross_batch_state(spark):
    # r8: a near-dup pair split across micro-batches must be found in
    # the LATER member's batch via the signature history; a within-batch
    # pair exactly once in its own batch; unrelated docs never pair.
    from geneticalgorithmsusingmapreduce_spark.streaming import neardup

    body = " ".join(f"w{j}" for j in range(30))
    other = " ".join(f"q{j}" for j in range(30))
    docs = spark.createDataFrame(
        [
            (0, body),                # batch 0
            (1, other + " extra"),    # batch 1, unrelated
            (3, body + " zz"),        # batch 0 (3 % 3 = 0): within-batch
            (7, body + " yy"),        # batch 1: cross-batch vs 0 and 3
        ],
        "doc_id long, text string",
    )
    st = neardup.start_streaming_neardup(spark, docs, n_batches=3)
    found = {
        (r.doc_a, r.doc_b): r.found_batch for r in st.results.collect()
    }
    for df in (st.bands, st.sets, st.results):
        df.unpersist()
    assert found.get((0, 3)) == 0      # within batch 0
    assert found.get((0, 7)) == 1      # cross-batch, found when 7 lands
    assert found.get((3, 7)) == 1
    assert not any(1 in p for p in found)  # unrelated doc never pairs
    assert st.batches_done == 3


def test_ivf_append_reused_index_dir_is_cleared(
    spark, tmp_path, skewed_embeddings
):
    # the per-batch store writes are mode(append), so a sink run into a
    # directory that already holds a store must start it afresh at
    # batch 0 — otherwise every row is silently duplicated, an earlier
    # run's newer generation is served, or the commit of generation 0
    # fails. Inputs: a second plain append into the same index_dir; an
    # append over a crashed earlier run's UNCOMMITTED gen=0; a 30-vector
    # append over an earlier run that rebuilt to a later generation
    # (caller's GC done); two durable SemDeDup runs into one history_dir
    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.sources import store
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        ivf_append,
        ivf_rebuild,
        semdedup as sd_stream,
    )

    emb = read_table(spark, SF, "embeddings")
    n = emb.count()

    def append(d, vecs):
        st = ivf_append.start_ivf_append(
            spark, vecs, d, n_batches=2, n_centroids=4, iters=1
        )
        assert st.batches_done == 2
        assert store.committed_generations(spark, d) == [0]
        _, postings = ivf_rebuild.read_serve_tables(spark, d)
        return [r.vec_id for r in postings.select("vec_id").collect()]

    d = str(tmp_path / "append")
    for _run in range(2):
        ids = append(d, emb)
        assert len(ids) == n and len(set(ids)) == n  # not 2n

    d = str(tmp_path / "uncommitted")
    ivf_rebuild.write_generation(
        spark, emb, d, 0, ann.train_centroid_rows(emb, 4, 0)[0]
    )
    ids = append(d, emb)
    assert len(ids) == n and len(set(ids)) == n

    d = str(tmp_path / "rebuilt")
    st = ivf_append.start_ivf_append(
        spark, skewed_embeddings, d, n_batches=3, n_centroids=4, iters=2,
        rebuild_skew=1.5,
    )
    assert st.gen >= 1, st.history
    for gen in st.pending_gc:
        store.delete_generation(spark, d, gen)
    ids = append(d, emb.filter(F.col("vec_id") < 30))
    assert sorted(ids) == list(range(30))

    d = str(tmp_path / "semdedup")
    aug = ann.augmented_embeddings(spark, SF)
    runs = []
    for _run in range(2):
        sd_stream.start_streaming_semdedup_durable(spark, aug, d, n_batches=3)
        runs.append(
            [tuple(r) for r in sd_stream.durable_results(spark, d).collect()]
        )
        assert store.committed_generations(spark, d) == [0]
    assert runs[0] and len(set(runs[1])) == len(runs[1])
    assert set(runs[1]) == set(runs[0])


def test_ivf_append_compaction_reduces_files_content_invariant(
    spark, tmp_path
):
    # r10 (r9 VERDICT "Next round" #5): the per-list compaction pass in
    # the append sink's maintenance path must cut the data-file count
    # of fragmented lists AND leave the serve output bit-identical to
    # the uncompacted ingest
    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.sources import store
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        ivf_append,
        ivf_rebuild,
    )

    emb = read_table(spark, SF, "embeddings")
    plain_d = str(tmp_path / "plain")
    comp_d = str(tmp_path / "comp")
    ivf_append.start_ivf_append(spark, emb, plain_d, n_batches=3)
    st = ivf_append.start_ivf_append(
        spark, emb, comp_d, n_batches=3, compact_after=2
    )
    assert st.compactions, "threshold never tripped at 3 batches"
    for _cid, before, after in st.compactions:
        assert after < before
    plain_files = store.data_stats(f"{plain_d}/gen=0/postings8")["files"]
    comp_files = store.data_stats(f"{comp_d}/gen=0/postings8")["files"]
    assert comp_files < plain_files

    def serve(d):
        cents, p = ivf_rebuild.read_serve_tables(spark, d)
        return {
            tuple(r) for r in ann.ivf_serve_topk_int8(p, cents).collect()
        }

    assert serve(comp_d) == serve(plain_d)


def test_streaming_semdedup_matches_static_pairs(spark):
    # the embedding rung of the streaming dedup ladder (r11): the
    # cross-batch loop must find EXACTLY the static batch operator's
    # pair set (training restricted to batch 0, rank seeds), each pair
    # once, in the batch where its later member arrives
    from geneticalgorithmsusingmapreduce_spark import runtime
    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        semdedup as sd_stream,
    )

    aug = ann.augmented_embeddings(spark, SF)
    st = sd_stream.start_streaming_semdedup(spark, aug, n_batches=3)
    got = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2): r.found_batch
        for r in st.results.collect()
    }
    assert len(got) == st.results.count()  # no pair emitted twice
    rows, _ = ann.train_centroid_rows(
        aug.filter(F.col("vec_id") % 3 == 0), ann.N_CENTROIDS, 2,
        compute_inertia=False, seed_by_rank=True,
    )
    base = ann.kernel_assign(aug, rows).filter(F.col("n2") > 0)
    static = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann._cluster_pairs_from_assign(base, 800).collect()
    }
    assert set(got) == static
    for (va, vb, *_), fb in got.items():
        assert fb == max(va % 3, vb % 3)
    for df in (st.assigned, st.results):
        runtime.free_checkpoint(df)

def test_streaming_semdedup_durable_matches_static_pairs(spark, tmp_path):
    # r11 VERDICT #1: the durable-history variant must find EXACTLY the
    # static operator's pair set under the SAMPLED batch-0 training
    # (train slice vec_id % 12 = 0, rank seeds), each pair once, in the
    # batch where its later member arrives — while keeping only
    # counters in driver memory and re-reading only probed cells
    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        semdedup as sd_stream,
    )

    aug = ann.augmented_embeddings(spark, SF)
    d = str(tmp_path / "ssdd")
    # sketch_read_min_bytes=0 forces the int8 sketch pre-filter path
    # even on this tiny store (production default cuts over adaptively)
    st = sd_stream.start_streaming_semdedup_durable(
        spark, aug, d, n_batches=3, sketch_read_min_bytes=0,
    )
    res = sd_stream.durable_results(spark, d)
    got = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2): r.found_batch
        for r in res.collect()
    }
    assert len(got) == res.count()  # no pair emitted twice
    rows, _ = ann.train_centroid_rows(
        aug.filter(F.col("vec_id") % 12 == 0), ann.N_CENTROIDS, 2,
        compute_inertia=False, seed_by_rank=True,
    )
    base = ann.kernel_assign(aug, rows).filter(F.col("n2") > 0)
    static = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann._cluster_pairs_from_assign(base, 800).collect()
    }
    assert set(got) == static
    for (va, vb, *_), fb in got.items():
        assert fb == max(va % 3, vb % 3)
    # evidence shape: per-batch history bytes track sketch + candidate
    # mass (r12 #2: strictly BELOW the store size once a store exists
    # — the uniform-regime lever), the store grows monotonically, and
    # generation 0 is atomically committed
    assert [h["batch"] for h in st.history] == [0, 1, 2]
    assert st.history[0]["history_bytes_read"] == 0  # no store yet
    for h in st.history[1:]:
        assert h["history_bytes_read"] < h["store_bytes_total"]
        assert h["sketch_bytes_read"] + h["cand_bytes_read"] == \
            h["history_bytes_read"]
    assert (
        st.history[1]["store_bytes_total"]
        < st.history[2]["store_bytes_total"]
    )
    from geneticalgorithmsusingmapreduce_spark.sources import store

    assert store.committed_generations(spark, d) == [0]


@pytest.mark.parametrize(
    "keys", [("cent_id",), ("batch", "cent_id")],
    ids=["one-level", "two-level"],
)
def test_read_dirs_prunes_unlisted_dirs(spark, tmp_path, keys):
    # the pruning pin: with every (batch, cell) directory on disk and a
    # plan listing two of them, the read lists ONLY those directories'
    # files — by construction, not by planner pushdown — in a one-level
    # (cent_id) and a two-level (batch, cent_id) layout
    from geneticalgorithmsusingmapreduce_spark.sources import store

    base = str(tmp_path / "assign")
    df = spark.createDataFrame(
        [(i, i % 2, i % 3, [i, i + 1], 5) for i in range(30)],
        "vec_id long, batch long, cent_id long, qv array<long>, n2 long",
    )
    df.select("vec_id", "qv", "n2", *keys).write.partitionBy(*keys).parquet(
        base
    )

    def key(i):
        return tuple({"batch": i % 2, "cent_id": i % 3}[k] for k in keys)

    plan = [(0, 0), (1, 2)] if len(keys) == 2 else [(0,), (2,)]
    dirs = ["/".join(f"{k}={v}" for k, v in zip(keys, p)) for p in plan]
    hist, nbytes, n_live = store.read_dirs(
        spark, base, dirs, ["vec_id", "qv", "n2"]
    )
    assert n_live == 2 and nbytes > 0
    files = hist.inputFiles()
    assert files
    assert all(any(f"/{d}/" in f for d in dirs) for f in files), files
    got = {(r.vec_id, *(r[k] for k in keys)) for r in hist.collect()}
    assert got == {(i, *key(i)) for i in range(30) if key(i) in plan}
    # listing only missing directories reads nothing at all
    missing = ["/".join(f"{k}=99" for k in keys)]
    assert store.read_dirs(spark, base, missing, ["vec_id"]) == (None, 0, 0)


def test_zone_plan_skips_only_unreachable_bands(spark):
    # sound gap test: tau=800 -> arccos = 0.6435 rad = 643501 urad.
    # A band whose theta interval gaps the batch interval by MORE than
    # that is skipped; touching or reachable bands survive.
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        semdedup as sd_stream,
    )

    batch_iv = {7: (100_000, 200_000)}
    zr = [
        # gap 0 (overlap) -> live
        {"batch": 0, "cent_id": 7, "tmin_urad": 150_000,
         "tmax_urad": 300_000},
        # gap 643_501 + 100 above the batch max -> skipped
        {"batch": 1, "cent_id": 7, "tmin_urad": 843_700,
         "tmax_urad": 900_000},
        # gap just UNDER the bound -> live (conservative keep)
        {"batch": 2, "cent_id": 7, "tmin_urad": 843_000,
         "tmax_urad": 900_000},
        # unprobed cell: not read, not counted
        {"batch": 0, "cent_id": 9, "tmin_urad": 0, "tmax_urad": 1},
    ]
    live, skipped = sd_stream._zone_plan(zr, batch_iv, 800)
    assert live == [(0, 7), (2, 7)]
    assert skipped == 1


def test_durable_compaction_preserves_pairs(spark, tmp_path):
    # recency-banded compaction mid-stream must not change the pair
    # set (bands merge, zone envelopes fold conservatively)
    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        semdedup as sd_stream,
    )

    aug = ann.augmented_embeddings(spark, SF)
    d0, d1 = str(tmp_path / "plain"), str(tmp_path / "compact")
    # 5 batches, maintenance every 2: at batch 4 the bands {0,1,2}
    # (minus the protected newest, 3) are ≥ 2 and merge fires
    st0 = sd_stream.start_streaming_semdedup_durable(
        spark, aug, d0, n_batches=5
    )
    st1 = sd_stream.start_streaming_semdedup_durable(
        spark, aug, d1, n_batches=5, compact_every=2,
        compact_keep_recent=1,
    )
    a = sorted(tuple(r) for r in sd_stream.durable_results(spark, d0).collect())
    b = sorted(tuple(r) for r in sd_stream.durable_results(spark, d1).collect())
    assert a == b and len(a) > 0
    assert st1.compactions and st1.compactions[0]["merged_bands"] >= 2
    # compaction reduced the number of band directories on disk
    import os

    bands = [
        e.name for e in os.scandir(os.path.join(d1, "gen=0", "assign"))
        if e.name.startswith("batch=")
    ]
    assert any(e.startswith("batch=-") for e in bands)
    assert st0.history[-1]["band_dirs_total"] >         st1.history[-1]["band_dirs_total"]


def test_durable_rebuild_lifecycle_keeps_attribution(spark, tmp_path):
    # r12 #3: force a rebuild (hot-frac threshold 0 fires after batch
    # 0) and prove (a) generation 1 is committed and generation 0
    # GC'd after the grace batch, (b) every pair found BEFORE the
    # rebuild keeps its found_batch attribution, (c) the stream keeps
    # finding cross-batch pairs after the swap
    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.sources import store
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        semdedup as sd_stream,
    )

    aug = ann.augmented_embeddings(spark, SF)
    d = str(tmp_path / "reb")
    st = sd_stream.start_streaming_semdedup_durable(
        spark, aug, d, n_batches=3, rebuild_hot_frac=0.0,
    )
    assert st.rebuilds and st.rebuilds[0][0] == 0
    assert store.committed_generations(spark, d)[-1] == st.gen >= 1
    assert st.gen == st.history[-1]["gen"]
    res = {
        (r.vec_a, r.vec_b): r.found_batch
        for r in sd_stream.durable_results(spark, d).collect()
    }
    assert res, "pairs must survive the generation swap"
    # batch-0 pairs (both members in batch 0) kept their attribution
    b0 = {k: v for k, v in res.items() if k[0] % 3 == 0 and k[1] % 3 == 0}
    assert all(v == 0 for v in b0.values())
    # later batches still pair against (re-encoded) history
    assert any(v > 0 for v in res.values())
