"""Entry-scope lifecycle (runtime module docstring): scoped_persist and
scoped_cleanup register release callables in the current entry's scope,
and building a catalog entry releases the scopes older than the previous
entry's — so a returned DataFrame stays computable until the entry after
next is built, and nothing outlives that."""

import glob
import os
import tempfile
import threading

import pytest

from conftest import SF_DIR

from geneticalgorithmsusingmapreduce_spark import runtime


def _stored_rdds(spark):
    sc = spark.sparkContext
    return {int(i.id()) for i in sc._jsc.sc().getRDDStorageInfo()}


def _is_checkpoint(df):
    """a checkpoint's plan is a LogicalRDD leaf; a cache keeps its plan"""
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getSimpleName() == "LogicalRDD"


def test_scoped_persist_registers_and_releases(spark):
    df = spark.range(10)
    out = runtime.scoped_persist(df)
    assert out is df
    assert df.storageLevel.useMemory  # actually persisted
    assert runtime._SCOPES[-1], "release must be registered"
    n = runtime.release_scopes()
    assert n >= 1
    assert not any(runtime._SCOPES)
    assert not df.storageLevel.useMemory  # actually unpersisted


def test_catalog_entry_build_drains_registry(spark):
    # deliberate contract: building an entry releases the scope of the
    # entry BEFORE the previous one, so a handle registered now survives
    # the next entry's build and is released by the one after it
    from geneticalgorithmsusingmapreduce_spark import catalog

    leaked = runtime.scoped_persist(spark.range(5))
    assert leaked.storageLevel.useMemory
    catalog.QUERIES["population_generate"](spark, SF_DIR)
    assert leaked.storageLevel.useMemory
    catalog.QUERIES["population_generate"](spark, SF_DIR)
    assert not leaked.storageLevel.useMemory


def test_release_survives_stopped_handles(spark):
    # a raising release or a stale handle must not stop the drain
    ran = []

    def boom():
        raise RuntimeError("session gone")

    runtime.release_scopes()  # clean slate from other tests
    runtime.scoped_cleanup(lambda: ran.append("first"))
    runtime.scoped_cleanup(boom)
    runtime.scoped_cleanup(lambda: runtime.free_checkpoint(object()))
    assert runtime.release_scopes() == 2  # boom is skipped, not counted
    assert ran == ["first"]
    assert not any(runtime._SCOPES)


def test_pipeline_path_drains_scoped_persists(spark, monkeypatch):
    # the curation ladders' rungs are checkpoint-truncated leaves, each
    # registered as a free_checkpoint release in the entry scope next to
    # the clustering loop's plain checkpoints; nothing is a cache
    from geneticalgorithmsusingmapreduce_spark.operators import pipeline

    runtime.release_scopes()  # clean slate from other tests
    docs = spark.createDataFrame(
        [(i, f"the a and of to is u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f "
             f"u{i}g u{i}h")
         for i in range(1, 7)],
        "doc_id long, text string",
    )
    pipeline.curate_corpus_neardup(docs).collect()
    n_releases = len(runtime._SCOPES[-1])
    assert n_releases >= 2  # survivors + shingles at minimum
    freed = []
    real_free = runtime.free_checkpoint
    monkeypatch.setattr(
        runtime, "free_checkpoint", lambda df: (freed.append(df), real_free(df))
    )
    assert runtime.release_scopes() == n_releases
    assert len(freed) == n_releases
    assert sum(hasattr(df, "_gamr_ck_jrdd") for df in freed) >= 2
    assert all(_is_checkpoint(df) for df in freed)
    assert not any(runtime._SCOPES)


def test_release_runs_at_interpreter_exit():
    # the LAST entry's persists drain at interpreter exit. Behavior test
    # in a subprocess: a handle left in the registry at exit must have
    # unpersist() called by the atexit hook.
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from geneticalgorithmsusingmapreduce_spark import runtime\n"
        "class H:\n"
        "    def persist(self):\n"
        "        return self\n"
        "    def unpersist(self):\n"
        "        print('DRAINED-AT-EXIT', flush=True)\n"
        "runtime.scoped_persist(H())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=60,
    )
    assert out.returncode == 0
    assert "DRAINED-AT-EXIT" in out.stdout


def test_free_checkpoint_releases_rdd_blocks(spark):
    # unpersist() does NOT free localCheckpoint RDD blocks — rotating
    # loop state must release the checkpointed RDD explicitly
    pre = _stored_rdds(spark)  # other tests' leftovers are not ours
    df = runtime.local_checkpoint_truncated(
        spark.range(1000).selectExpr("id", "id * 2 AS v")
    )
    assert df.count() == 1000
    ours = _stored_rdds(spark) - pre
    assert ours, "checkpoint materialized no blocks?"
    runtime.free_checkpoint(df)
    assert not (ours & _stored_rdds(spark)), (
        "checkpointed RDD blocks survived release"
    )
    # fallback path: an ordinary persisted frame still unpersists
    p = spark.range(10).persist()
    p.count()
    runtime.free_checkpoint(p)
    assert not p.storageLevel.useMemory


def test_scoped_cleanup_drains_in_lifo_order():
    runtime.release_scopes()  # clean slate from other tests' ladders
    order = []
    runtime.scoped_cleanup(lambda: order.append("a"))
    runtime.scoped_cleanup(lambda: order.append("b"))
    assert runtime.release_scopes() == 2
    assert order == ["b", "a"]
    assert runtime.release_scopes() == 0


def test_connect_session_falls_back_to_persist():
    # a Spark Connect session has no _jsparkSession: inside a ladder,
    # scoped_persist must plain-persist instead of raising
    class ConnectSession:
        pass

    class Frame:
        sparkSession = ConnectSession()
        persisted = False

        def persist(self):
            self.persisted = True
            return self

        def unpersist(self):
            self.persisted = False

    df = Frame()
    with runtime.truncated_persists():
        out = runtime.scoped_persist(df)
    assert out is df and df.persisted
    assert not hasattr(out, "_gamr_ck_jrdd")
    runtime.release_scopes()
    assert not df.persisted


def _checkpoint_rdd_ids(df):
    """ids of the RDD lineage behind a local_checkpoint_truncated frame"""
    ids, r = set(), df._gamr_ck_jrdd
    while r is not None:
        ids.add(int(r.id()))
        deps = r.dependencies().iterator()
        r = deps.next().rdd() if deps.hasNext() else None
    return ids


def test_ladder_result_valid_until_entry_after_next(spark, monkeypatch):
    # a ladder's rungs are checkpoints (the only copy of their rows): the
    # returned DataFrame must still collect after the next entry is
    # built, and the rungs' blocks must be gone once the entry after
    # next is built
    from geneticalgorithmsusingmapreduce_spark import catalog

    rungs = []
    real_checkpoint = runtime.local_checkpoint_truncated

    def recording_checkpoint(df, eager=True):
        rungs.append(real_checkpoint(df, eager))
        return rungs[-1]

    monkeypatch.setattr(
        runtime, "local_checkpoint_truncated", recording_checkpoint
    )
    q = catalog.QUERIES
    first = q["corpus_curation_neardup"](spark, SF_DIR)
    ours = _stored_rdds(spark) & set().union(
        *(_checkpoint_rdd_ids(r) for r in rungs)
    )
    assert ours, "ladder rungs materialized no checkpoint blocks?"
    q["population_generate"](spark, SF_DIR)
    rows = sorted(first.collect())
    fresh = sorted(q["corpus_curation_neardup"](spark, SF_DIR).collect())
    assert rows == fresh
    assert not (ours & _stored_rdds(spark)), (
        "first entry's rung checkpoints outlived the entry after next"
    )


def test_truncation_is_context_local(spark):
    # one thread building a ladder must not flip another thread's
    # scoped_persist into checkpoint-truncation
    entered, leave = threading.Event(), threading.Event()

    def ladder_thread():
        with runtime.truncated_persists():
            entered.set()
            leave.wait(timeout=60)

    t = threading.Thread(target=ladder_thread)
    t.start()
    try:
        assert entered.wait(timeout=60)
        df = runtime.scoped_persist(spark.range(5))
    finally:
        leave.set()
        t.join()
    assert df.storageLevel.useMemory
    assert not hasattr(df, "_gamr_ck_jrdd")
    runtime.free_checkpoint(df)


@pytest.mark.parametrize("loop", ["cluster_pairs", "cluster_pairs_star"])
def test_cluster_loops_free_their_checkpoints(spark, loop):
    # each round frees the round it supersedes; the input checkpoint and
    # the returned frame live in the entry scope until it is released
    from geneticalgorithmsusingmapreduce_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (7, 7)],
        "doc_a long, doc_b long",
    )
    runtime.release_scopes()  # clean slate from other tests
    pre = _stored_rdds(spark)
    out = getattr(dedup, loop)(pairs)
    assert sorted(map(tuple, out.collect())) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (7, 7), (10, 10), (11, 10),
    ]
    held = _stored_rdds(spark) - pre
    assert len(held) == 2, f"superseded rounds still hold blocks: {held}"
    runtime.release_scopes()
    assert not (held & _stored_rdds(spark)), "checkpoint blocks survived"


# every entry that returns a lazy frame over what its scope owns: a temp
# store, bucketed tables, or a stream's state checkpoints
SCOPED_ENTRIES = [
    "csv_json_roundtrip", "orc_roundtrip", "sequencefile_roundtrip",
    "streaming_neardup", "streaming_neardup_guarded", "streaming_semdedup",
    "streaming_semdedup_durable", "layout_compaction",
    "events_partitioned_scan", "join_bucketed_revenue",
    "emb_ivf_index_roundtrip", "emb_ivf_postings_int8",
    "emb_ivf_postings_pq", "emb_ivf_append_int8",
    "emb_ivf_append_compacted", "emb_ivf_rebuild_gen",
]
_HAS_NO_DIRS = {"streaming_neardup", "streaming_neardup_guarded",
                "streaming_semdedup"}


def _gamr_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "gamr_*")))


def _tables(spark):
    return {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize("name", SCOPED_ENTRIES)
def test_entry_store_valid_until_entry_after_next(
    spark, name, tmp_path, monkeypatch
):
    # the returned DataFrame reads its store (dirs, tables, checkpoints)
    # lazily: it must still collect after the next entry is built, and
    # the store must be gone once the entry after next is built
    from geneticalgorithmsusingmapreduce_spark import catalog

    # temp dirs of this process only
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    q = catalog.QUERIES
    dirs0, tables0, blocks0 = _gamr_dirs(), _tables(spark), _stored_rdds(spark)
    first = q[name](spark, SF_DIR)
    dirs = _gamr_dirs() - dirs0
    tables = _tables(spark) - tables0
    blocks = _stored_rdds(spark) - blocks0
    assert dirs or name in _HAS_NO_DIRS, "entry made no temp store?"
    assert blocks or name not in _HAS_NO_DIRS, "no state checkpoints?"
    q["population_generate"](spark, SF_DIR)
    rows = sorted(first.collect(), key=str)
    assert all(os.path.isdir(d) for d in dirs), "store gone before collect"
    fresh = sorted(q[name](spark, SF_DIR).collect(), key=str)
    assert rows == fresh
    q["population_generate"](spark, SF_DIR)
    assert not any(os.path.exists(d) for d in dirs), "temp dirs outlived scope"
    assert not (tables & _tables(spark)), "bucket tables outlived scope"
    assert not (blocks & _stored_rdds(spark)), "checkpoints outlived scope"
