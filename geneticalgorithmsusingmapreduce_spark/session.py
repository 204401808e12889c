"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment would
set per-executor (AQE on, shuffle partitions sized to parallelism, Arrow
for the Pandas-UDF escape hatches). Nothing here is required for
correctness — queries() callables accept any session the driver hands us.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _blas_threads() -> str:
    """BLAS threads per Python worker: '1'. Task parallelism is the
    outer loop, so a BLAS pool per worker only oversubscribes cores."""
    return "1"


def _driver_mem() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else a third of physical RAM capped at
    48g: a fixed 48g heap lets the driver JVM outgrow a small machine
    until the kernel's OOM killer ends it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    default = f"{min(48 << 10, ram // 3 >> 20)}m"
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", default)


def local_cpus() -> int:
    """Cores of the local[N] master build_session starts when not given
    ``cpus``: $SPARK_GRAFT_CPUS, default 32."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app: str = "gamr-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """extra_conf entries are applied last, so they can override the
    defaults below AND set create-time-only core confs (e.g.
    spark.io.compression.codec — a SparkConf setting that cannot be
    changed on a live session).

    Codec policy (a strictly alternating same-box A/B at sf0.1 and
    sf10, BASELINE.md; re-run it with ``python tools/time_entry.py
    --ab spark.io.compression.codec=lz4,zstd word_counts
    dedup_minhash_lsh_capped corpus_curation_neardup``): lz4 STAYS the
    default. zstd showed no wall-clock win while
    shuffles fit in page cache — up to ~16% slower on shuffle-heavy
    text entries at sf10 (compression CPU in the task path) vs ~12%
    faster on two scan-bound ones, i.e. noise-band overall. Its ~2×
    spill-byte reduction only pays when node-local disk bounds wide
    text shuffles (the sf100 decade) — flip it per-workload via
    extra_conf={"spark.io.compression.codec": "zstd"}, as scale_bench's
    SCALE_BENCH_CONF does."""
    if cpus is None:
        cpus = local_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # persist() captures a non-adaptive plan by default — cached
        # exchanges would materialize at the raw shuffle partition count
        # (catalog._ensure_adaptive_cached_plans has the full rationale)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.driver.memory", _driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        # the reference enables speculative execution on every job
        # (reference src/edu/illinois/ga/MapReduce.java:281, CGA.java:341)
        # to mask straggler tasks; same knob, Spark spelling. In local
        # mode it is purely harmful: the speculation checker re-enqueues
        # copies of sub-ms tasks onto the SAME cores (there is no other
        # node to mask), measured at +0.5-0.9 s of scheduler churn on a
        # trivial one-exchange agg (1.6-2.4 s → 0.76-0.97 s with it off)
        # — a fixed tax on every job of every entry. Re-run the A/B on
        # a one-exchange entry with ``python tools/time_entry.py --ab
        # spark.speculation=false,true orders_by_month``. This factory
        # always builds local[N] sessions, so the default here is OFF; a
        # cluster deployment (where the knob belongs, per the reference)
        # re-enables it with SPARK_GRAFT_SPECULATION=1 — parameterized,
        # not hardcoded, per the scale-dependent-settings rule.
        .config(
            "spark.speculation",
            {"1": "true", "0": "false"}.get(
                os.environ.get("SPARK_GRAFT_SPECULATION", ""), "false"
            ),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one BLAS thread per Python worker: the float64 matmul kernels
        # (Lloyd's partials, SemDeDup assignment/tiles) otherwise spawn
        # an OpenBLAS pool of nproc threads in EACH of the 32 parallel
        # workers — 1,024 threads of pure oversubscription on a 32-core
        # box; task-level parallelism is already the outer loop
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", _blas_threads())
        .config("spark.executorEnv.OMP_NUM_THREADS", _blas_threads())
        .config("spark.executorEnv.MKL_NUM_THREADS", _blas_threads())
        .config("spark.ui.enabled", "false")
        # collect_set/collect_list aggregation (LSH shingle sets,
        # containment postings, span folds) runs as
        # ObjectHashAggregate, which silently falls back to SORT-based
        # aggregation once a task sees >128 distinct groups
        # (spark.sql.objectHashAggregate.sortBased.fallbackThreshold's
        # ancient default) — the fallback sorts every row AND walks the
        # interpreted TypedImperativeAggregate serialize/merge path, the
        # exact stack a live jstack of the r14 bench showed grinding
        # (Collect.deserialize inside SortBasedAggregator) on the
        # containment entry. Our group counts are 10^4-10^6 per task at
        # bench scale with SMALL per-group state (int64 set members), so
        # the hash map stays modest; 4M groups × ~100 B state bounds one
        # task's map at ~hundreds of MB on this 128 GiB box. On a
        # memory-tight cluster, size via SPARK_GRAFT_OBJAGG_FALLBACK
        # (per-task map entries before graceful sort fallback).
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            os.environ.get("SPARK_GRAFT_OBJAGG_FALLBACK", str(1 << 22)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode split sizing: test-scale parquet is tens of MB, so the
        # 128 MB default packs a whole table into ~3 input tasks and leaves
        # 29 of 32 cores idle on scan-heavy plans. 8 MB ≈ one task per core
        # at sf0.1. (On a real cluster the default is right — tune per
        # executor-memory/core ratio, not this constant.)
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
