"""IVF index rebuild as generation N+1.

``ivf_append`` keeps an ingesting index append-only and returns list-size
skew as the re-train ALARM; this module is what a production system does
when the alarm trips: train NEW coarse centroids on the current corpus,
re-encode every vector into a fresh index GENERATION directory, commit it
atomically, and only then delete the previous generation — the old index
serves uninterrupted throughout the rebuild. The generation rules (the
commit marker, serve = newest committed generation) are
``sources/store.py``'s; this module keeps their names as attributes.

Layout:

    {index_dir}/gen={n}/centroids/    parquet [cent_id, cv]
    {index_dir}/gen={n}/postings8/    parquet [vec_id, v8, scale],
                                      partitionBy cent_id

A rebuild is three Spark jobs: the training-set collect (at most
``ann.MAX_POINTS_PER_CODE`` vectors per centroid; Lloyd's iterates on the
driver), the centroid write and one full-scan cent_id-partitioned
postings write (the same cost as the original build — unavoidable, that
is what a re-encode is). Serving never blocks: queries hitting generation
N keep directory-level list pruning until the atomic flip to N+1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import ann
from ..sources.store import (  # noqa: F401 — the generation API's names
    GEN_MARKER,
    commit_generation,
    committed_generations,
    delete_generation,
    gen_dir,
    serve_generation,
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
    gdir = gen_dir(index_dir, gen)
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
    return read_index_tables(
        spark, gen_dir(index_dir, serve_generation(spark, index_dir))
    )
