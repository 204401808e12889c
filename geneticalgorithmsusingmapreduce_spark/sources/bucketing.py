"""Bucketed tables: pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of a fact⋈fact join is the shuffle of both
sides. Writing each table bucketed by the join key (hash(key) mod N data
files per partition, recorded in the catalog) lets Spark plan the join
with ZERO exchanges: each task reads bucket i of both sides and joins
locally. The same bucketing also serves `groupBy(key)` for free — the
reference's closest analog is its static numMappers sharding
(``reference src/edu/illinois/ga/MapReduce.java:283``), which co-locates
nothing.

Operational contract (tested in tests/test_plans.py):
* both sides bucketed with the SAME bucket count on the join key;
* `spark.sql.sources.bucketing.enabled` true (default);
* broadcast must not preempt the demonstration (threshold -1 in tests —
  at real scale neither side fits a broadcast anyway).

Buckets written with multiple files per bucket still require a local
sort before a sort-merge join; one-file-per-bucket (``coalesce(1)`` per
write task or sortBy + maxRecordsPerFile tuning) removes the sort too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import store


def buckets_for_path(
    path: str,
    target_bytes: int = 128 << 20,
    lo: int = 8,
    hi: int = 4096,
) -> int:
    """Bucket count sized to the data: next power of two of
    ceil(on-disk data bytes / target_bytes), clamped to [lo, hi].

    A FIXED bucket count is the classic bucketing scale trap: the join
    read runs one task per bucket, so 8 buckets cap a 1000-executor
    cluster at 8-way parallelism (measured here: the sf10→sf100 decade
    ran 16× for 10× data until the count scaled). Sizing each bucket to
    ~one HDFS-block-ish target keeps read parallelism ∝ data while the
    zero-exchange plan property only needs the two sides to AGREE on
    the count — callers pass the bigger side's path and use the result
    for both."""
    n_bytes = store.data_stats(path)["bytes"]
    n = lo
    while n < hi and n * target_bytes < n_bytes:
        n *= 2
    return n


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int,
    key: str,
    sort: bool = True,
) -> None:
    """Write ``df`` as an external bucketed table named ``table`` at
    ``path``. Overwrites both the files and the catalog entry.

    ``sort=False`` skips the per-bucket sortBy: a SORT-MERGE join needs
    sorted buckets to skip its sort, but a shuffled-HASH join (the
    genome join-back) only needs the partitioning — and sorting
    wide rows (genome arrays) at write time is exactly the
    full-width sort the skinny-shuffle discipline exists to avoid
    (measured: the sorted store write dominated the sf10 tournament
    leg). Keys-only or SMJ-bound tables keep the default sort."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.option("path", path).format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Scan a bucketed table (bucket metadata rides in from the catalog,
    so downstream joins/aggs on the bucket key skip their exchange)."""
    return spark.table(table)
