"""Streaming near-dup: cross-batch LSH state.

An incremental corpus pipeline must near-dedup NEW documents against
everything already ingested, not just within the arriving batch.
``streaming_dedup`` carries exact digests across micro-batches via the
state store; near-dup needs richer state — the historical SIGNATURE
artifacts: per-document LSH band-bucket rows (the candidate index) and
sorted distinct-shingle sets (the verification side), exactly the
durable artifacts the batch pipeline already defines
(operators/textops.py lsh_band_rows / jaccard_pairs).

Topology per micro-batch (streaming/microbatch.py —
``reference src/edu/illinois/incr_ga/IncMapReduce.java:241-325`` is the
same buffered-state-across-runs idea on the forked Hadoop):

    batch docs → shingles → sets + minhash sigs → band rows
    history ∪= batch artifacts           (checkpointed DataFrames; at
                                          scale: parquet appends)
    candidates = batch bands ⋈ history bands   (new-vs-all equi-join,
                                          never all-pairs; within-batch
                                          pairs fold via least/greatest
                                          + distinct)
    verified  = exact Jaccard over the stored sets (array_intersect)
    results  ∪= verified pairs tagged with this batch id

Every pair is found in EXACTLY the batch where its later member
arrives, so with deterministic routing (doc_id mod n_batches) the final
result set equals the static batch pipeline's pair set with
found_batch = greatest(doc_a mod B, doc_b mod B) — which is what the
catalog oracle replays symbolically: the strongest possible check that
the cross-batch state machinery loses nothing.

Scale notes: the history join is keyed on (band, bucket) — the same
shape as the batch self-join, with the hot-bucket guard applicable
per-batch (order-dependent pruning is inherent to streaming, so the
oracle-checked entry runs unguarded); band rows and sets stores grow
linearly with the corpus and live as cent_id-style partitioned parquet
in production (the build/serve split of neardup_pairs_roundtrip).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import textops
from ..runtime import free_checkpoint, local_checkpoint_truncated
from .microbatch import run_micro_batches


@dataclass
class NearDupState:
    bands: DataFrame
    sets: DataFrame
    results: DataFrame
    batches_done: int = 0
    history: list[tuple[int, int]] = field(default_factory=list)
    # (batch_id, n_new_pairs)


def _doc_sets(shingles: DataFrame) -> DataFrame:
    """Per-doc sorted distinct sh64 set — the verification artifact
    (identical fold to textops.jaccard_pairs)."""
    return (
        shingles.select("doc_id", "sh64")
        .groupBy("doc_id")
        .agg(F.expr("array_sort(collect_set(sh64))").alias("shs"))
        .select("doc_id", "shs", F.size("shs").alias("sz"))
    )


def start_streaming_neardup(
    spark: SparkSession,
    docs: DataFrame,
    n_batches: int = 3,
    tau_milli: int = 500,
    max_bucket: int | None = None,
    timeout_sec: float = 300,
    guard_mode: str = "cumulative",
) -> NearDupState:
    """Ingest ``docs`` in ``n_batches`` micro-batches (routing:
    doc_id % n_batches — deterministic so the oracle can replay), each
    batch LSH-checked against the cumulative signature history.
    Returns the final state; results has columns
    [doc_a, doc_b, jaccard_milli, found_batch].

    ``max_bucket`` is the hot-bucket skew guard applied to the probe
    sides of each batch's candidate join — the production dial on
    low-entropy corpora (the textops story). Two guard modes:

    - "cumulative": prune on the history's RUNNING bucket counts — a
      bucket is skipped from the batch where it crosses the cap on.
      Arrival-order-dependent, so it cannot be replayed as static SQL;
      probe-only.
    - "corpus": prune against the CORPUS hot-set — (band, bucket)
      groups whose FINAL count exceeds the cap, computed once before
      the stream and anti-joined into both probe sides every batch.
      The hot-set is a property of the corpus, not the arrival order
      (production systems run the same policy as a periodically
      refreshed hot-list/denylist), so the guarded stream is exactly
      the static capped pipeline replayed incrementally and the
      oracle hash-checks it (streaming_neardup_guarded)."""
    if guard_mode not in ("cumulative", "corpus"):
        raise ValueError(
            f"start_streaming_neardup: unknown guard_mode {guard_mode!r}"
        )
    empty_bands = spark.createDataFrame(
        [], "doc_id long, band int, bucket long"
    )
    empty_sets = spark.createDataFrame(
        [], "doc_id long, shs array<bigint>, sz int"
    )
    empty_res = spark.createDataFrame(
        [],
        "doc_a long, doc_b long, jaccard_milli bigint, found_batch long",
    )
    state = NearDupState(empty_bands, empty_sets, empty_res)

    hot = None
    if max_bucket is not None and guard_mode == "corpus":
        hot = local_checkpoint_truncated(
            textops.lsh_band_rows(textops.minhash_signatures(docs))
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band", "bucket")
        )

    def _prune(band_rows: DataFrame) -> DataFrame:
        if max_bucket is None:
            return band_rows
        if hot is not None:  # corpus hot-set: order-independent
            return band_rows.join(hot, ["band", "bucket"], "left_anti")
        return textops._prune_hot_buckets(band_rows, max_bucket)

    def one_batch(b: int) -> None:
        batch_docs = docs.filter(F.col("doc_id") % n_batches == b)
        sh = textops.shingles_hashed(batch_docs)
        new_sets = _doc_sets(sh)
        new_bands = textops.lsh_band_rows(
            textops.minhash_signatures(batch_docs, shingles=sh)
        )
        # history AFTER absorbing this batch — the candidate join then
        # covers both new-vs-old and within-batch pairs
        # stats-resetting checkpoints (runtime.local_checkpoint_truncated):
        # the carried estimate must not compound across batches
        hist_bands = local_checkpoint_truncated(
            state.bands.unionByName(new_bands)
        )
        hist_sets = local_checkpoint_truncated(
            state.sets.unionByName(new_sets)
        )
        # guard BOTH join sides: the history side caps the per-bucket
        # fan-out factor, the new side caps a hot bucket arriving
        # entirely within one batch
        probe_bands = _prune(hist_bands)
        probe_new = _prune(new_bands)
        cand = (
            probe_new.alias("n")
            .join(probe_bands.alias("h"), ["band", "bucket"])
            .filter(F.expr("n.doc_id != h.doc_id"))
            .select(
                F.expr("least(n.doc_id, h.doc_id)").alias("doc_a"),
                F.expr("greatest(n.doc_id, h.doc_id)").alias("doc_b"),
            )
            .distinct()
        )
        a = hist_sets.select(
            F.col("doc_id").alias("doc_a"),
            F.col("shs").alias("shs_a"), F.col("sz").alias("sza"),
        )
        bb = hist_sets.select(
            F.col("doc_id").alias("doc_b"),
            F.col("shs").alias("shs_b"), F.col("sz").alias("szb"),
        )
        verified = (
            cand.join(a, "doc_a").join(bb, "doc_b")
            .withColumn(
                "inter", F.expr("size(array_intersect(shs_a, shs_b))")
            )
            .withColumn(
                "jaccard_milli",
                F.expr("inter * 1000 div (sza + szb - inter)"),
            )
            .filter(F.col("jaccard_milli") >= tau_milli)
            .select(
                "doc_a", "doc_b", "jaccard_milli",
                F.lit(b).cast("long").alias("found_batch"),
            )
        )
        # LAZY checkpoint, materialized by the count below — one job per
        # batch where eager + count would be two (the _star_loop "one
        # job per round" trick)
        new_res = local_checkpoint_truncated(
            state.results.unionByName(verified), eager=False
        )
        prev_total = sum(n for _, n in state.history)
        n_new = new_res.count() - prev_total
        old = (state.bands, state.sets, state.results)
        state.bands, state.sets, state.results = (
            hist_bands, hist_sets, new_res
        )
        state.history.append((b, n_new))
        for df in old:
            # plain unpersist() does NOT free localCheckpoint RDD blocks
            # — a long stream would accumulate storage for every
            # superseded state generation (production-scale streams
            # should persist history as appended parquet instead —
            # module doc)
            free_checkpoint(df)
        state.batches_done = b + 1

    try:
        run_micro_batches(
            spark, n_batches, one_batch, timeout_sec,
            name="streaming_neardup",
        )
    finally:
        if hot is not None:
            free_checkpoint(hot)
    return state
