"""Incremental IVF index maintenance.

An ingesting embedding pipeline appends new vectors to a DURABLE ANN
index instead of rebuilding it: train the coarse quantizer on the
initial corpus, then per arriving micro-batch assign each new vector to
its nearest existing centroid, int8-quantize, and APPEND to the
cent_id-partitioned postings layout (the build/serve split of
emb_ivf_postings_int8, made incremental). Serving is unchanged — the
reader sees the directory-pruned postings regardless of how many
batches wrote them.

Topology per micro-batch (streaming/microbatch.py; the reference's
closest analog is the forked incremental Hadoop's
buffered-state-across-runs idea,
``reference src/edu/illinois/incr_ga/IncMapReduce.java:241-325``).
One ingest step, ``_ingest_batch``, serves this sink and the
generation sink ``ivf_rebuild.start_ivf_append_gen``:

    batch 0: train centroids on the batch (Lloyd's, seed = C smallest
             vec_ids of the batch) → overwrite centroids parquet, clear
             any stale postings
    batch b: assign batch vectors to the FIXED centroids → int8
             quantize → append postings parquet (partitionBy cent_id)
             → fold per-list counts → max/mean list skew

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
automatic rebuild so this sink stays append-only and replayable;
``ivf_rebuild.start_ivf_append_gen`` wires the alarm to an in-stream
rebuild.

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
from .microbatch import run_micro_batches


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
    """Threshold-triggered per-list compaction for the append sink's
    maintenance path: each micro-batch append lands up to one file per
    shuffle partition in EVERY cent_id directory, so an ingesting index
    fragments at batches × partitions files per list. Lists whose
    data-file count exceeds ``max_files_per_list`` are rewritten by
    ``layout.compact_layout`` at ~target-sized files into a sibling
    temp dir, then swapped in. Per-DIRECTORY, never the whole table:
    only hot lists pay, exactly the 100 TB operational shape (on an
    object store the swap is a new generation prefix rather than a
    rename — see streaming/ivf_rebuild.py for the committed-generation
    discipline). Returns [(cent_id, files_before, files_after), ...]
    for the caller's ledger; content invariance is pinned in tests
    (serve output hash-unchanged)."""
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
        if layout.layout_file_stats(src)["files"] <= max_files_per_list:
            continue
        tmp = src + "__compact"
        st = layout.compact_layout(spark, src, tmp, target_bytes)
        shutil.rmtree(src)
        os.rename(tmp, src)
        done.append(
            (int(name.split("=", 1)[1]), st["files_before"], st["files_after"])
        )
    return done


def _ingest_batch(
    spark: SparkSession,
    state,
    batch: DataFrame,
    b: int,
    store_dir: str,
    n_centroids: int,
    iters: int,
) -> tuple[int, float]:
    """Append micro-batch ``b`` to the index at ``store_dir``
    (``centroids`` + ``postings8``) and fold its per-list counts into
    ``state.list_sizes`` (either sink's state: both carry
    ``centroid_rows`` and ``list_sizes``). Batch 0 trains
    ``state.centroid_rows`` on the batch and starts the store afresh:
    it overwrites the centroids and deletes any postings already there,
    because the batch writes are ``mode("append")`` and a reused
    directory (or a crashed earlier run's uncommitted generation) would
    otherwise silently duplicate its rows into the index. Returns (rows
    indexed so far, max/mean list-size skew) — the skew is the
    re-train alarm value."""
    if b == 0:
        rows, _ = ann.train_centroid_rows(
            batch, n_centroids, iters,
            compute_inertia=False, seed_by_rank=True,
        )
        state.centroid_rows = rows
        ann.centroid_frame(spark, rows).write.mode("overwrite").parquet(
            f"{store_dir}/centroids"
        )
        jpath = spark._jvm.org.apache.hadoop.fs.Path(
            f"{store_dir}/postings8"
        )
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            fs.delete(jpath, True)
    # persisted around write + count: without it the per-list count
    # would re-run the encode kernel's scan of the batch
    p8 = ann.encode_postings_int8(batch, state.centroid_rows).persist()
    try:
        p8.write.mode("append").partitionBy("cent_id").parquet(
            f"{store_dir}/postings8"
        )
        # the BATCH's per-list counts (C scalars) folded into driver
        # state: re-reading the whole postings directory every batch
        # would cost O(total index) per batch
        batch_counts = p8.groupBy("cent_id").count().collect()
    finally:
        p8.unpersist()
    for r in batch_counts:
        c = int(r["cent_id"])
        state.list_sizes[c] = state.list_sizes.get(c, 0) + r["count"]
    sizes = list(state.list_sizes.values())
    skew = round(max(sizes) * len(sizes) / sum(sizes), 3) if sizes else 0.0
    return sum(sizes), skew


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

    def one_batch(b: int) -> None:
        batch = emb.filter(F.col("vec_id") % n_batches == b)
        n_rows, skew = _ingest_batch(
            spark, state, batch, b, index_dir, n_centroids, iters
        )
        state.history.append((b, n_rows, skew))
        if compact_after is not None:
            state.compactions.extend(
                compact_postings_lists(spark, index_dir, compact_after)
            )
        state.batches_done = b + 1

    run_micro_batches(
        spark, n_batches, one_batch, timeout_sec, name="ivf_append"
    )
    return state
