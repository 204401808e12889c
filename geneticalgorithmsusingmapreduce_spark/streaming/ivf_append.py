"""Incremental IVF index maintenance.

An ingesting embedding pipeline appends new vectors to a DURABLE ANN
index instead of rebuilding it: train the coarse quantizer on the
initial corpus, then per arriving micro-batch assign each new vector to
its nearest existing centroid, int8-quantize, and APPEND to the
cent_id-partitioned postings layout (the build/serve split of
emb_ivf_postings_int8, made incremental). Serving is unchanged — the
reader sees the directory-pruned postings regardless of how many
batches wrote them.

The index is a generation store (``sources/store.py``): batches append
to ``{index_dir}/gen=N`` (the ``ivf_rebuild`` layout), batch 0 starts
the store afresh and commits generation 0 once its postings landed, and
``ivf_rebuild.read_serve_tables`` reads the served generation.

Topology per micro-batch (streaming/microbatch.py; the reference's
closest analog is the forked incremental Hadoop's
buffered-state-across-runs idea,
``reference src/edu/illinois/incr_ga/IncMapReduce.java:241-325``):

    batch 0: train centroids on the batch (Lloyd's, seed = C smallest
             vec_ids of the batch) → write the centroids parquet
    batch b: assign batch vectors to the FIXED centroids → int8
             quantize → append postings parquet (partitionBy cent_id)
             → fold per-list counts → max/mean list skew

Routing is vec_id % n_batches — deterministic, so the DuckDB oracle
replays the whole ingestion as ONE static build: k-means over the
batch-0 slice (train_filter), assignment of ALL vectors, int8
compression, serve. Hash equality proves the appended artifact is
bit-identical to the batch build — no vector lost, none re-assigned,
every append landing in the right list directory.

Re-training: the ``list_skew`` stat returned per batch (max/mean list
size) is the monitoring value a production system alarms on. Without
``rebuild_skew`` it stays a measurement and the sink stays append-only
and replayable; with it, the alarm triggers an in-stream rebuild into
generation N+1 (``rebuild_skew``'s doc).

At 100 TB: each batch's work is one scan of the BATCH (the
ann.encode_postings_int8 kernel assigns and int8-quantizes each vector
against the C centroids in its closure, with no exchange) plus a
partitioned append — no shuffle of the existing index, ever; list
pruning at serve time is directory-level, exactly as in the static
artifact.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import ann
from ..sources import store
from .ivf_rebuild import write_generation
from .microbatch import run_micro_batches


@dataclass
class IvfAppendState(store.Generations):
    centroid_rows: list | None = None
    batches_done: int = 0
    list_sizes: dict = field(default_factory=dict)  # cent_id → rows
    history: list = field(default_factory=list)  # (batch, rows, skew, gen)
    compactions: list = field(default_factory=list)  # (cent_id, before, after)
    rebuilds: list = field(default_factory=list)  # (batch, old, new, skew)
    mid_rebuild_serve: list = field(default_factory=list)  # gen seen mid-swap


def compact_postings_lists(
    spark: SparkSession,
    index_dir: str,
    max_files_per_list: int = 8,
    target_bytes: int = 128 << 20,
) -> list[tuple[int, int, int]]:
    """Threshold-triggered per-list compaction for the append sink's
    maintenance path: each micro-batch append lands up to one file per
    shuffle partition in EVERY cent_id directory, so an ingesting index
    fragments at batches × partitions files per list. Lists under
    ``{index_dir}/postings8`` whose data-file count exceeds
    ``max_files_per_list`` are rewritten by ``store.compact_layout`` at
    ~target-sized files into a sibling temp dir, then swapped in.
    Per-DIRECTORY, never the whole table: only hot lists pay, exactly
    the 100 TB operational shape (on an object store the swap is a new
    generation prefix rather than a rename). Returns [(cent_id,
    files_before, files_after), ...] for the caller's ledger; content
    invariance is pinned in tests (serve output hash-unchanged)."""
    base = os.path.join(index_dir, "postings8")
    done: list[tuple[int, int, int]] = []
    if not os.path.isdir(base):
        return done
    for name in sorted(os.listdir(base)):
        if not name.startswith("cent_id="):
            continue
        src = os.path.join(base, name)
        if store.data_stats(src)["files"] <= max_files_per_list:
            continue
        tmp = src + "__compact"
        st = store.compact_layout(spark, src, tmp, target_bytes)
        shutil.rmtree(src)
        os.rename(tmp, src)
        done.append(
            (int(name.split("=", 1)[1]), st["files_before"], st["files_after"])
        )
    return done


def _ingest_batch(
    spark: SparkSession, state: IvfAppendState, batch: DataFrame
) -> tuple[int, float]:
    """Append ``batch``'s int8 postings to generation ``state.gen`` and
    fold its per-list counts into ``state.list_sizes``. Returns (rows
    indexed so far, max/mean list-size skew) — the skew is the
    re-train alarm value."""
    # persisted around write + count: without it the per-list count
    # would re-run the encode kernel's scan of the batch
    p8 = ann.encode_postings_int8(batch, state.centroid_rows).persist()
    try:
        p8.write.mode("append").partitionBy("cent_id").parquet(
            f"{state.dir}/postings8"
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
    rebuild_skew: float | None = None,
) -> IvfAppendState:
    """Ingest ``emb`` [vec_id, embedding] in ``n_batches`` micro-batches
    (routing vec_id % n_batches), appending int8 postings to
    ``{index_dir}/gen=N``. Batch 0 deletes every generation already
    under ``index_dir`` (the appends would otherwise duplicate an
    earlier run's rows, or serve its newer generation), trains the
    centroids and commits generation 0 after its postings land — a
    committed but postings-empty generation would serve an empty index.

    ``compact_after``: run the per-list compaction pass after each
    batch, rewriting lists holding more than this many data files
    (None disables — the bare append measured by the base entry).

    ``rebuild_skew``: the ALARM → REBUILD loop. When the running
    max/mean list-size skew exceeds it, the batch retrains on the full
    ingested corpus, writes generation N+1, records the serve
    generation MID-REBUILD (``state.mid_rebuild_serve`` — still N, the
    uncommitted N+1 is invisible), swaps to N+1 and keeps appending
    against the new centroids. Generation N is deleted one batch later
    (``state.gc_done``), so an in-flight reader still scanning N
    survives the commit; generations superseded in the final batch stay
    in ``state.pending_gc`` for the caller's explicit GC. A rebuild
    costs one full corpus scan + one partitioned write — the price of a
    re-train, paid only when the alarm says the Voronoi layout has
    drifted, while queries keep serving N until the single metadata
    commit."""
    state = IvfAppendState(index_dir)

    def one_batch(b: int) -> None:
        state.collect_garbage(spark, b)
        batch = emb.filter(F.col("vec_id") % n_batches == b)
        if b == 0:
            state.fresh_start(spark)
            state.centroid_rows, _ = ann.train_centroid_rows(
                batch, n_centroids, iters,
                compute_inertia=False, seed_by_rank=True,
            )
            ann.centroid_frame(spark, state.centroid_rows).write.parquet(
                f"{state.dir}/centroids"
            )
        n_rows, skew = _ingest_batch(spark, state, batch)
        if b == 0:
            state.commit(spark)
        state.history.append((b, n_rows, skew, state.gen))
        if compact_after is not None:
            state.compactions.extend(
                compact_postings_lists(spark, state.dir, compact_after)
            )
        if rebuild_skew is not None and skew > rebuild_skew:
            ingested = emb.filter(F.col("vec_id") % n_batches <= b)
            rows, _ = ann.train_centroid_rows(
                ingested, n_centroids, iters,
                compute_inertia=False, seed_by_rank=True,
            )
            write_generation(spark, ingested, index_dir, state.gen + 1, rows)
            state.mid_rebuild_serve.append(
                store.serve_generation(spark, index_dir)
            )
            old, new = state.swap(spark)
            state.centroid_rows = rows
            state.list_sizes = {
                int(r["cent_id"]): int(r["count"])
                for r in spark.read.parquet(f"{state.dir}/postings8")
                .groupBy("cent_id").count().collect()
            }
            state.rebuilds.append((b, old, new, skew))
        state.batches_done = b + 1

    run_micro_batches(
        spark, n_batches, one_batch, timeout_sec, name="ivf_append"
    )
    return state
