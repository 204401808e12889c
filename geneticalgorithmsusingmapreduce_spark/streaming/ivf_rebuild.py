"""IVF index rebuild as generation N+1.

``ivf_append`` keeps an ingesting index append-only and returns list-size
skew as the re-train ALARM; this module is what a production system does
when the alarm trips: train NEW coarse centroids on the current corpus,
re-encode every vector into a fresh index GENERATION directory, commit it
atomically, and only then delete the previous generation — the old index
serves uninterrupted throughout the rebuild. This is the reference's own
per-iteration directory-generation pattern
(``reference src/edu/illinois/ga/MapReduce.java:298-302`` — each GA
generation writes ``population{N+1}`` while ``population{N}`` stays
readable) applied to the ANN index lifecycle.

Layout:

    {index_dir}/gen={n}/centroids/    parquet [cent_id, cv]
    {index_dir}/gen={n}/postings8/    parquet [vec_id, v8, scale],
                                      partitionBy cent_id
    {index_dir}/gen={n}/_COMMITTED    empty marker file

The COMMIT is one atomic file create (``FileSystem.createNewFile`` — the
``_SUCCESS``-marker discipline): readers resolve the serve generation as
the max gen directory carrying the marker, so a half-written generation
is invisible, the swap is a single metadata operation, and the old
generation stays fully readable until the new one is committed. Deleting
the superseded generation is an explicitly SEPARATE, post-swap step.

At 100 TB: the rebuild is one full scan + one cent_id-partitioned write
(the same cost as the original build — unavoidable, that is what a
re-train is), while serving never blocks: queries hitting generation N
keep directory-level list pruning until the atomic flip to N+1.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import ann
from .ivf_append import _ingest_batch
from .microbatch import run_micro_batches

GEN_MARKER = "_COMMITTED"


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def committed_generations(spark: SparkSession, index_dir: str) -> list[int]:
    """Generations whose marker file exists, ascending. Uncommitted
    (half-written) generation directories are invisible by design."""
    fs, root = _fs(spark, index_dir)
    if not fs.exists(root):
        return []
    gens = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        m = re.fullmatch(r"gen=(\d+)", name)
        if m and fs.exists(
            spark._jvm.org.apache.hadoop.fs.Path(
                status.getPath(), GEN_MARKER
            )
        ):
            gens.append(int(m.group(1)))
    return sorted(gens)


def serve_generation(spark: SparkSession, index_dir: str) -> int:
    """The generation queries serve from: the newest COMMITTED one."""
    gens = committed_generations(spark, index_dir)
    if not gens:
        raise FileNotFoundError(
            f"ivf_rebuild: no committed generation under {index_dir}"
        )
    return gens[-1]


def commit_generation(spark: SparkSession, index_dir: str, gen: int) -> None:
    """Atomically make generation ``gen`` visible to readers (one marker
    file create)."""
    fs, _ = _fs(spark, index_dir)
    marker = spark._jvm.org.apache.hadoop.fs.Path(
        f"{index_dir}/gen={gen}/{GEN_MARKER}"
    )
    if not fs.createNewFile(marker):
        raise FileExistsError(f"generation {gen} already committed")


def delete_generation(spark: SparkSession, index_dir: str, gen: int) -> None:
    """Remove a SUPERSEDED generation — call only after the replacement
    committed (serve_generation already resolves past it)."""
    fs, _ = _fs(spark, index_dir)
    fs.delete(
        spark._jvm.org.apache.hadoop.fs.Path(f"{index_dir}/gen={gen}"),
        True,
    )


def write_generation(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    gen: int,
    centroid_rows: list,
) -> None:
    """Encode the corpus against ``centroid_rows`` and write the full
    generation layout (centroids + int8 postings), UNCOMMITTED."""
    gdir = f"{index_dir}/gen={gen}"
    ann.centroid_frame(spark, centroid_rows).write.mode(
        "overwrite"
    ).parquet(f"{gdir}/centroids")
    ann.encode_postings_int8(emb, centroid_rows).write.mode(
        "overwrite"
    ).partitionBy("cent_id").parquet(f"{gdir}/postings8")


def rebuild_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    n_centroids: int = ann.N_CENTROIDS,
    iters: int = 3,
) -> int:
    """The re-train lifecycle: train fresh centroids on ``emb`` (the
    CURRENT corpus — drift is the whole point of rebuilding), encode
    generation N+1, commit it atomically, then delete generation N.
    Returns the new serve generation."""
    old = serve_generation(spark, index_dir)
    new = old + 1
    rows, _ = ann.train_centroid_rows(
        emb, n_centroids, iters, compute_inertia=False
    )
    write_generation(spark, emb, index_dir, new, rows)
    commit_generation(spark, index_dir, new)
    delete_generation(spark, index_dir, old)
    return new


def read_index_tables(
    spark: SparkSession, gdir: str
) -> tuple[DataFrame, DataFrame]:
    """(centroids, postings8) of the index stored under ``gdir``, read
    with explicit schemas (cent_id as long), so neither read launches a
    footer-inference job; postings8 columns are [vec_id, v8, scale,
    cent_id]."""
    return (
        spark.read.schema(ann.CENTROID_SCHEMA).parquet(f"{gdir}/centroids"),
        spark.read.schema(ann.POSTINGS8_SCHEMA).parquet(f"{gdir}/postings8"),
    )


def read_serve_tables(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(centroids, postings8) of the current serve generation — the
    inputs ann.ivf_serve_topk_int8 consumes."""
    g = serve_generation(spark, index_dir)
    return read_index_tables(spark, f"{index_dir}/gen={g}")


@dataclass
class IvfGenAppendState:
    index_dir: str
    centroid_rows: list | None = None
    batches_done: int = 0
    gen: int = 0
    list_sizes: dict = field(default_factory=dict)  # cent_id → rows
    history: list = field(default_factory=list)  # (batch, rows, skew, gen)
    rebuilds: list = field(default_factory=list)  # (batch, old, new, skew)
    mid_rebuild_serve: list = field(default_factory=list)  # gen seen mid-swap
    pending_gc: list = field(default_factory=list)  # superseded, not yet rm'd
    gc_done: list = field(default_factory=list)  # (batch, gen) actually rm'd


def start_ivf_append_gen(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    n_batches: int = 3,
    n_centroids: int = ann.N_CENTROIDS,
    iters: int = 3,
    rebuild_skew: float | None = None,
    timeout_sec: float = 300,
) -> IvfGenAppendState:
    """The append sink with the ALARM → REBUILD loop composed in:
    ``ivf_append`` computes list-size skew as a measurement and
    ``rebuild_index`` exists as a separate manual step; here the two
    are wired inside ONE foreachBatch maintenance path. Ingestion runs
    the append sink's own step (``ivf_append._ingest_batch``) against
    the CURRENT committed generation — generation 0 is committed only
    after its first postings land, since a committed but postings-empty
    generation would serve an empty index. When the running max/mean
    list-size skew exceeds ``rebuild_skew`` the maintenance step
    retrains on the full ingested corpus, writes generation N+1,
    records the serve generation MID-REBUILD (provably still N — the
    atomic-marker discipline means a half-written generation is
    invisible), commits N+1 atomically and continues appending against
    the new centroids. Generation N is deleted one batch later (see
    ``pending_gc``), not in the committing step, so an in-flight reader
    still scanning N survives the commit; generations superseded in the
    final batch stay in ``state.pending_gc`` for the caller's explicit
    GC.

    At 100 TB: per batch the work is unchanged from start_ivf_append
    (batch-only scan + partitioned append + C scalars of skew state);
    a triggered rebuild costs one full corpus scan + one partitioned
    write — the price of a re-train, paid only when the alarm says the
    Voronoi layout has drifted, while queries keep serving generation
    N until the single metadata commit."""
    state = IvfGenAppendState(index_dir)

    def one_batch(b: int) -> None:
        while state.pending_gc:
            gone = state.pending_gc.pop(0)
            delete_generation(spark, index_dir, gone)
            state.gc_done.append((b, gone))
        batch = emb.filter(F.col("vec_id") % n_batches == b)
        n_rows, skew = _ingest_batch(
            spark, state, batch, b, f"{index_dir}/gen={state.gen}",
            n_centroids, iters,
        )
        if b == 0:
            commit_generation(spark, index_dir, state.gen)
        state.history.append((b, n_rows, skew, state.gen))
        if rebuild_skew is not None and skew > rebuild_skew:
            old, new = state.gen, state.gen + 1
            ingested = emb.filter(F.col("vec_id") % n_batches <= b)
            rows, _ = ann.train_centroid_rows(
                ingested, n_centroids, iters,
                compute_inertia=False, seed_by_rank=True,
            )
            write_generation(spark, ingested, index_dir, new, rows)
            # the swap hasn't happened: readers MUST still resolve N
            state.mid_rebuild_serve.append(
                serve_generation(spark, index_dir)
            )
            commit_generation(spark, index_dir, new)
            state.pending_gc.append(old)
            state.gen = new
            state.centroid_rows = rows
            state.list_sizes = {
                int(r["cent_id"]): int(r["count"])
                for r in spark.read.parquet(
                    f"{index_dir}/gen={new}/postings8"
                ).groupBy("cent_id").count().collect()
            }
            state.rebuilds.append((b, old, new, skew))
        state.batches_done = b + 1

    run_micro_batches(
        spark, n_batches, one_batch, timeout_sec, name="ivf_append_gen"
    )
    return state
