"""One micro-batch driver for the incremental streaming sinks.

The reference's incremental variant runs on a forked Hadoop that keeps
reducer state across runs (``reference
src/edu/illinois/incr_ga/IncMapReduce.java:241-325,343-344``). Here each
sink keeps its state in driver-side Python objects (and, for the
durable sinks, partitioned parquet) and advances it one batch per
``foreachBatch`` callback of a rate stream. The stream carries no data:
its ticks only pace the batches, and each sink routes its own input
rows to batch ``b`` (``id % n_batches == b``) so the DuckDB oracles can
replay the whole ingestion as one static query.

The sinks differ only in their per-batch body. This module owns the
rest: the stream, the batch counter, the deadline, turning a dead query
into a named error, and stopping the query.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import SparkSession


def run_micro_batches(
    spark: SparkSession,
    n_batches: int,
    step: Callable[[int], None],
    timeout_sec: float = 300,
    *,
    name: str,
) -> None:
    """Call ``step(b)`` for ``b = 0 .. n_batches-1``, one per micro-batch
    of a rate stream, and return once the last call has returned.

    A batch counts as done only after ``step`` returns, so every step's
    side effects are complete when this returns. Callbacks after the
    last batch do nothing. If a step raises, the query dies and this
    raises ``RuntimeError("{name}: stream died after k/n batches")``
    chained to the query's exception; if the deadline passes first it
    raises ``"{name}: only k/n batches completed before the deadline"``.
    The query is stopped in every case."""
    done = 0

    def one_batch(_df, _batch_id) -> None:
        nonlocal done
        if done >= n_batches:
            return
        step(done)
        done += 1

    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1000).load()
        .writeStream.foreachBatch(one_batch)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.monotonic() + timeout_sec
        while done < n_batches:
            if not q.isActive:
                raise RuntimeError(
                    f"{name}: stream died after {done}/{n_batches} batches"
                ) from q.exception()
            if time.monotonic() >= deadline:
                raise RuntimeError(
                    f"{name}: only {done}/{n_batches} batches completed "
                    "before the deadline"
                )
            time.sleep(0.2)
    finally:
        q.stop()
