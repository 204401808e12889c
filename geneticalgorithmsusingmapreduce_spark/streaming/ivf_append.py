"""Incremental IVF index maintenance (r9 — r8 VERDICT "Next round" #6).

An ingesting embedding pipeline appends new vectors to a DURABLE ANN
index instead of rebuilding it: train the coarse quantizer on the
initial corpus, then per arriving micro-batch assign each new vector to
its nearest existing centroid, int8-quantize, and APPEND to the
cent_id-partitioned postings layout (the build/serve split of
emb_ivf_postings_int8, made incremental). Serving is unchanged — the
reader sees the directory-pruned postings regardless of how many
batches wrote them.

Topology per micro-batch (foreachBatch, the streaming_neardup pattern;
the reference's closest analog is the forked incremental Hadoop's
buffered-state-across-runs idea,
``reference src/edu/illinois/incr_ga/IncMapReduce.java:241-325``):

    batch 0: train centroids on the batch (Lloyd's, seed = C smallest
             vec_ids of the batch) → write centroids parquet
    batch b: assign batch vectors to the FIXED centroids → int8
             quantize → append postings parquet (partitionBy cent_id)

Routing is vec_id % n_batches — deterministic, so the DuckDB oracle
replays the whole ingestion as ONE static build: k-means over the
batch-0 slice (train_filter), assignment of ALL vectors, int8
compression, serve. Hash equality proves the appended artifact is
bit-identical to the batch build — no vector lost, none re-assigned,
every append landing in the right list directory.

Re-training: a production system re-trains the coarse quantizer when
drift accumulates (list-size skew, rising assignment distance) and
rebuilds postings under a new index generation; the trigger here is
the ``list_skew`` stat returned per batch (max/mean list size — the
monitoring value you'd alarm on), kept as a measurement rather than an
automatic rebuild so ingestion stays append-only and replayable.

At 100 TB: each batch's work is one scan of the BATCH (the
ann.encode_postings_int8 kernel assigns and int8-quantizes each vector
against the C centroids in its closure, with no exchange) plus a
partitioned append — no shuffle of the existing index, ever; list
pruning at serve time is directory-level, exactly as in the static
artifact.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import ann


@dataclass
class IvfAppendState:
    index_dir: str
    centroid_rows: list | None = None
    batches_done: int = 0
    history: list = field(default_factory=list)  # (batch, n_rows, skew)
    list_sizes: dict = field(default_factory=dict)  # cent_id → rows
    compactions: list = field(default_factory=list)  # (cent_id, before, after)


def compact_postings_lists(
    spark: SparkSession,
    index_dir: str,
    max_files_per_list: int = 8,
    target_bytes: int = 128 << 20,
) -> list[tuple[int, int, int]]:
    """Threshold-triggered per-list compaction — the layout_compaction
    pass composed into the append sink's maintenance path (r9 VERDICT
    "Next round" #5): each micro-batch append lands up to one file per
    shuffle partition in EVERY cent_id directory, so an ingesting index
    fragments at batches × partitions files per list. Lists whose
    data-file count exceeds ``max_files_per_list`` are rewritten at
    ~target-sized files (sources/layout.py's bytes-derived count — no
    row scan) into a sibling temp dir, then swapped in. Per-DIRECTORY,
    never the whole table: only hot lists pay, exactly the 100 TB
    operational shape (on an object store the swap is a new generation
    prefix rather than a rename — see streaming/ivf_rebuild.py for the
    committed-generation discipline). Returns
    [(cent_id, files_before, files_after), ...] for the caller's
    ledger; content invariance is pinned in tests (serve output
    hash-unchanged)."""
    import os
    import shutil

    from ..sources import layout

    base = os.path.join(index_dir, "postings8")
    done: list[tuple[int, int, int]] = []
    if not os.path.isdir(base):
        return done
    for name in sorted(os.listdir(base)):
        if not name.startswith("cent_id="):
            continue
        src = os.path.join(base, name)
        st = layout.layout_file_stats(src)
        if st["files"] <= max_files_per_list:
            continue
        tmp = src + "__compact"
        n = layout.files_for_bytes(st["bytes"], target_bytes)
        spark.read.parquet(src).repartition(n).write.mode(
            "overwrite"
        ).parquet(tmp)
        after = layout.layout_file_stats(tmp)["files"]
        shutil.rmtree(src)
        os.rename(tmp, src)
        done.append((int(name.split("=", 1)[1]), st["files"], after))
    return done


def start_ivf_append(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    n_batches: int = 3,
    n_centroids: int = ann.N_CENTROIDS,
    iters: int = 3,
    timeout_sec: float = 300,
    compact_after: int | None = None,
) -> IvfAppendState:
    """Ingest ``emb`` [vec_id, embedding] in ``n_batches`` micro-batches
    (routing vec_id % n_batches), appending int8 postings to
    ``index_dir``. Returns the final state; the durable artifact is
    ``{index_dir}/centroids`` + ``{index_dir}/postings8``.
    ``compact_after``: run the per-list compaction pass after each
    batch, rewriting lists holding more than this many data files
    (None disables — the bare append measured by the base entry)."""
    state = IvfAppendState(index_dir)

    def one_batch(_df: DataFrame, _bid: int) -> None:
        b = state.batches_done
        if b >= n_batches:
            return
        batch = emb.filter(F.col("vec_id") % n_batches == b)
        if b == 0:
            rows, _ = ann.train_centroid_rows(
                batch, n_centroids, iters,
                compute_inertia=False, seed_by_rank=True,
            )
            state.centroid_rows = rows
            # overwrite: a reused index_dir with a stale centroids
            # layout would otherwise kill batch 0 with errorifexists
            # and leave the stream spinning to the deadline
            spark.createDataFrame(
                rows, ann.CENTROID_SCHEMA
            ).write.mode("overwrite").parquet(f"{index_dir}/centroids")
            # same reuse case for the postings (ADVICE r9): the batch
            # writes are mode(append), so a stale postings8 layout
            # would silently duplicate every vector in the durable
            # index — clear it once, before the first append
            jpath = spark._jvm.org.apache.hadoop.fs.Path(
                f"{index_dir}/postings8"
            )
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(jpath):
                fs.delete(jpath, True)
        # persisted around write + count: without it the skew count
        # below would re-run the encode kernel's scan of the batch
        p8 = ann.encode_postings_int8(batch, state.centroid_rows).persist()
        try:
            p8.write.mode("append").partitionBy("cent_id").parquet(
                f"{index_dir}/postings8"
            )
            # skew stat from the BATCH's per-list counts folded into
            # driver state (C scalars per batch) — re-reading the whole
            # postings directory every batch would be O(total index)
            # per batch (review finding)
            batch_counts = p8.groupBy("cent_id").count().collect()
        finally:
            p8.unpersist()
        for r in batch_counts:
            state.list_sizes[int(r["cent_id"])] = (
                state.list_sizes.get(int(r["cent_id"]), 0) + r["count"]
            )
        counts = list(state.list_sizes.values())
        skew = (
            round(max(counts) * len(counts) / sum(counts), 3)
            if counts else 0.0
        )  # max/mean — the re-train alarm value
        state.history.append((b, sum(counts), skew))
        if compact_after is not None:
            state.compactions.extend(
                compact_postings_lists(spark, index_dir, compact_after)
            )
        state.batches_done = b + 1

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1000).load()
    )
    q = (
        stream.writeStream.foreachBatch(one_batch)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + timeout_sec
        while state.batches_done < n_batches and time.time() < deadline:
            if not q.isActive:
                # a batch failure kills the query immediately — surface
                # its exception now instead of spinning to the deadline
                # and raising a generic count error (review finding)
                exc = q.exception()
                raise RuntimeError(
                    f"ivf_append: stream died after "
                    f"{state.batches_done}/{n_batches} batches"
                ) from exc
            time.sleep(0.2)
    finally:
        q.stop()
    if state.batches_done < n_batches:
        raise RuntimeError(
            f"ivf_append: only {state.batches_done}/{n_batches} "
            "batches completed before the deadline"
        )
    return state
