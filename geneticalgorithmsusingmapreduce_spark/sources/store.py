"""The durable-store layer: generation directories, pruned directory
reads, data-file accounting and compaction. Every durable store in the
package (the IVF index, the streaming SemDeDup history, the compacted
layouts) goes through this module; nothing else knows the marker name
or the ``gen=N`` layout.

Generations. A store keeps its state as ``{base}/gen=N/`` directories,
the reference's per-generation directory pattern
(``reference src/edu/illinois/ga/MapReduce.java:298-302`` — generation
N+1 is written while generation N stays readable). A generation becomes
visible by ONE atomic file create, ``{base}/gen=N/_COMMITTED``
(``FileSystem.createNewFile``, the ``_SUCCESS`` discipline). Readers
serve the newest committed generation, so a half-written generation is
invisible, the swap is a single metadata operation, and deleting the
superseded generation is a separate, later step.

The streaming sinks drive their generations through ``Generations``:
a fresh start at batch 0 (a reused directory's generations are
deleted, since the batch writes append), the commit of generation 0
once its first batch landed, the swap to N+1 (commit N+1, schedule N),
and the deletion of N one batch later, so a reader still scanning N
survives the commit.

Reads. ``read_dirs`` lists the partition directories to read
explicitly, so an unlisted directory's files are never listed, opened
or read — pruning before any read, by construction rather than by
planner pushdown.

Accounting and compaction. ``data_stats`` counts the data files a scan
would open (success markers and checksums are not scan tasks);
``compact_layout`` rewrites an appended, fragmented layout at
~target-sized files, sized from its on-disk bytes (no row scan). The
repartition shuffle is the honest cost of compaction — it is what
re-packs rows into full files; at 100 TB it runs per partition
directory, never over the whole table, and only where the file count
passed a threshold. Content invariance is the contract: the compacted
layout holds exactly the source's rows.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

GEN_MARKER = "_COMMITTED"


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def gen_dir(base: str, gen: int) -> str:
    return f"{base}/gen={gen}"


def committed_generations(spark: SparkSession, base: str) -> list[int]:
    """Generations whose marker file exists, ascending. Uncommitted
    (half-written) generation directories are invisible by design."""
    fs, root = _fs(spark, base)
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


def serve_generation(spark: SparkSession, base: str) -> int:
    """The generation readers serve from: the newest COMMITTED one."""
    gens = committed_generations(spark, base)
    if not gens:
        raise FileNotFoundError(f"no committed generation under {base}")
    return gens[-1]


def commit_generation(spark: SparkSession, base: str, gen: int) -> None:
    """Atomically make generation ``gen`` visible to readers (one marker
    file create)."""
    fs, _ = _fs(spark, base)
    marker = spark._jvm.org.apache.hadoop.fs.Path(
        f"{gen_dir(base, gen)}/{GEN_MARKER}"
    )
    if not fs.createNewFile(marker):
        raise FileExistsError(f"generation {gen} already committed")


def delete_generation(spark: SparkSession, base: str, gen: int) -> None:
    """Remove a SUPERSEDED generation — call only after the replacement
    committed (serve_generation already resolves past it)."""
    fs, _ = _fs(spark, base)
    fs.delete(spark._jvm.org.apache.hadoop.fs.Path(gen_dir(base, gen)), True)


@dataclass
class Generations:
    """A streaming sink's generation record: the generation it writes
    (``gen``), superseded generations not yet deleted (``pending_gc``)
    and the deletions done, as (batch, gen) (``gc_done``)."""

    base: str
    gen: int = 0
    pending_gc: list = field(default_factory=list)
    gc_done: list = field(default_factory=list)

    @property
    def dir(self) -> str:
        return gen_dir(self.base, self.gen)

    @property
    def next_dir(self) -> str:
        return gen_dir(self.base, self.gen + 1)

    def fresh_start(self, spark: SparkSession, *also: str) -> None:
        """Batch 0: delete every ``gen=N`` directory under the base and
        the paths ``also``. The batch writes append, so an earlier
        run's rows would otherwise be duplicated into this one, and its
        newer committed generations would be served instead."""
        fs, root = _fs(spark, self.base)
        paths = [spark._jvm.org.apache.hadoop.fs.Path(p) for p in also]
        if fs.exists(root):
            paths += [
                s.getPath() for s in fs.listStatus(root)
                if re.fullmatch(r"gen=\d+", s.getPath().getName())
            ]
        for p in paths:
            fs.delete(p, True)

    def commit(self, spark: SparkSession) -> None:
        commit_generation(spark, self.base, self.gen)

    def swap(self, spark: SparkSession) -> tuple[int, int]:
        """Commit the generation written at ``next_dir`` and schedule
        the current one for deletion; returns (old, new)."""
        old = self.gen
        commit_generation(spark, self.base, old + 1)
        self.pending_gc.append(old)
        self.gen = old + 1
        return old, self.gen

    def collect_garbage(self, spark: SparkSession, batch: int) -> None:
        """Delete the generations superseded before ``batch`` (one batch
        of grace after their swap)."""
        while self.pending_gc:
            gone = self.pending_gc.pop(0)
            delete_generation(spark, self.base, gone)
            self.gc_done.append((batch, gone))


def data_stats(path: str) -> dict:
    """{files, bytes} of the data files under ``path`` (a directory tree
    or one file); names starting with ``_`` or ``.`` (success markers,
    checksums) are not scan tasks and are skipped."""
    if os.path.isfile(path):
        return {"files": 1, "bytes": os.path.getsize(path)}
    n_files = n_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return {"files": n_files, "bytes": n_bytes}


def read_dirs(
    spark: SparkSession, base: str, dirs: list[str], cols: list[str]
) -> tuple[DataFrame | None, int, int]:
    """Read ONLY the partition directories ``dirs`` (paths relative to
    ``base``, e.g. ``cent_id=3`` or ``batch=0/cent_id=3``) of a
    partitioned parquet store: ``cols`` plus the partition columns
    named in the paths, as long. Missing directories are skipped.
    Returns (frame or None when none exists, data bytes of the read
    directories, number of existing directories)."""
    live = [
        p for p in (os.path.join(base, d) for d in dirs) if os.path.isdir(p)
    ]
    if not live:
        return None, 0, 0
    keys = [kv.split("=", 1)[0] for kv in dirs[0].split("/")]
    df = spark.read.option("basePath", base).parquet(*live).select(
        *cols, *(F.col(k).cast("long").alias(k) for k in keys)
    )
    return df, sum(data_stats(p)["bytes"] for p in live), len(live)


def files_for_bytes(n_bytes: int, target_bytes: int = 128 << 20) -> int:
    """Output file count for a compaction: ⌈bytes / target⌉, floor 1.
    Parquet re-encoding changes the byte total somewhat (dictionary
    re-buildup, row-group packing), but the scheduler only needs the
    order of magnitude right — a 10,000-file layout becoming 8 files
    vs 11 is the same win."""
    return max(1, -(-n_bytes // target_bytes))


def compact_layout(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes: int = 128 << 20,
) -> dict:
    """Rewrite the parquet layout at ``src_path`` into ``dst_path`` with
    ~target-sized files. Returns {"files_before", "files_after",
    "n_files_planned", "bytes_before"} for the caller's ledger."""
    before = data_stats(src_path)
    n = files_for_bytes(before["bytes"], target_bytes)
    spark.read.parquet(src_path).repartition(n).write.mode(
        "overwrite"
    ).parquet(dst_path)
    return {
        "files_before": before["files"],
        "bytes_before": before["bytes"],
        "n_files_planned": n,
        "files_after": data_stats(dst_path)["files"],
    }
