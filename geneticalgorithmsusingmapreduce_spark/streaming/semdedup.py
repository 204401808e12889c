"""Streaming semantic dedup: cross-batch embedding near-dup — the
embedding rung of the streaming family's exact-digest → MinHash/LSH
ladder.

An incremental corpus pipeline must semantically dedup NEW documents
against everything already ingested. The state the SemDeDup restriction
needs is exactly the durable artifact the batch operator already
defines: the ASSIGNMENT frame [vec_id, cent_id, qv, n2] (quantized
vector + Voronoi cell under centroids trained once on batch 0 — the
fixed-quantizer discipline of streaming/ivf_append.py; re-training is
the rebuild lifecycle's job, streaming/ivf_rebuild.py).

Topology per micro-batch (streaming/microbatch.py; the reference
analog is the forked incremental Hadoop's buffered-state-across-runs
idea,
``reference src/edu/illinois/incr_ga/IncMapReduce.java:241-325``):

    batch vecs → Arrow assignment kernel (vs FIXED batch-0 centroids)
    candidates = intra-cluster only: (batch × history) cross blocks +
                 the batch's own upper triangle — history × history
                 pairs are NEVER re-emitted
    verified  = float64 pre-filter + exact decimal(38,0) certificate
                (the batch operator's own verify, unchanged)
    history  ∪= batch assignments; results ∪= pairs tagged found_batch

Every pair is found in EXACTLY the batch where its later member
arrives, so with deterministic routing (vec_id mod n_batches) the final
result set equals the STATIC semantic_cluster_pairs output (trained on
the batch-0 slice) with found_batch = greatest(vec_a mod B, vec_b mod
B) — which the catalog oracle replays symbolically: hash equality
proves the cross-batch state machinery finds precisely the batch
operator's pair set, each exactly once, in the right batch.

Scale notes: the per-batch exchange is keyed on cent_id (batch rows +
history rows ship once per batch); the skew cap applies per-batch
exactly as in the batch operator (the gate entry runs uncapped:
order-dependent physical grouping is inherent to streaming, and the
output is cap-invariant anyway).

Two variants:

* ``start_streaming_semdedup`` — in-memory cumulative history
  (checkpoint-rotated union). Correct, but the WHOLE history re-ships
  through the cent_id exchange every batch (ΣB ≈ B²/2 history-bytes
  over B batches) and batch-0 training is flat Lloyd's over the batch
  (up to ann.MAX_POINTS_PER_CODE·C of its rows). Kept as the
  minimal-moving-parts form and the
  ``streaming_semdedup`` gate entry.
* ``start_streaming_semdedup_durable`` — the scale shape: history
  lives as (batch, cent_id)-PARTITIONED PARQUET inside a committed
  GENERATION directory (the generation store, ``sources/store.py``),
  with an int8 SKETCH sidecar and per-directory angular ZONE rows.
  Each batch re-reads only what can still pair: zone-gap skip
  (triangle inequality) → sketch-bytes pre-filter (int8 reconstruction
  bound) → full rows for candidate directories only — three provably
  output-invariant stages, so per-batch history bytes track
  sketch-size + candidate mass even under UNIFORM arrivals, where plain
  probed-cell pruning degenerates to re-reading the whole store.
  Batch-0 training runs on a deterministic fixed-modulus sample
  (train_filter replay — the oracle stays symbolic); recency-banded
  compaction bounds the file count; a hot-cell alarm retrains the
  quantizer into generation N+1. Pairs land per batch in a
  found_batch-partitioned store outside the generations, so driver
  state is counters only and pair attribution survives a rebuild.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, \
    functions as F

from ..functions import bits
from ..operators import ann
from ..runtime import free_checkpoint, local_checkpoint_truncated
from ..sources import store
from .microbatch import run_micro_batches

_PAIR_BATCH_SCHEMA = (
    "vec_a long, vec_b long, dot long, na2 long, nb2 long, "
    "found_batch long"
)


@dataclass
class SemDedupState:
    assigned: DataFrame  # cumulative [vec_id, cent_id, qv, n2]
    results: DataFrame   # [vec_a, vec_b, dot, na2, nb2, found_batch]
    centroid_rows: list | None = None
    batches_done: int = 0
    history: list[tuple[int, int]] = field(default_factory=list)
    # (batch_id, n_new_pairs)


def _new_vs_all_fn(t2: int):
    """Per-cent_id pair kernel over a tagged union: the fresh block's
    own upper triangle + fresh × history cross tiles — history ×
    history pairs are never re-emitted. Shared by both variants."""
    def new_vs_all(table):
        fresh = table.column("fresh").to_numpy() == 1
        va, n2a, xfa = ann._sorted_block(table, fresh)
        if not len(va):
            return ann._empty_pairs()
        parts = [ann._tile_pairs(va, n2a, xfa, t2=t2)]
        vh, n2h, xfh = ann._sorted_block(table, ~fresh)
        if len(vh):
            parts.append(
                ann._tile_pairs(va, n2a, xfa, vh, n2h, xfh, t2=t2)
            )
        return pa.concat_tables(parts)

    return new_vs_all


def _keep_expr(t2: int) -> str:
    """The exact decimal(38,0) cosine certificate — the batch
    operator's own verify, unchanged (_cluster_pairs_from_assign)."""
    return (
        "dot >= 0 AND "
        "cast(1000000 as decimal(38,0)) * cast(dot as decimal(38,0))"
        " * cast(dot as decimal(38,0)) >= "
        f"cast({t2} as decimal(38,0)) * cast(na2 as decimal(38,0))"
        " * cast(nb2 as decimal(38,0))"
    )


def start_streaming_semdedup(
    spark: SparkSession,
    emb: DataFrame,
    n_batches: int = 3,
    tau_milli: int = 800,
    n_centroids: int = ann.N_CENTROIDS,
    iters: int = 2,
    timeout_sec: float = 300,
) -> SemDedupState:
    """Ingest ``emb`` [vec_id, embedding] in ``n_batches`` micro-batches
    (routing vec_id % n_batches), semantically deduping each batch
    against the cumulative assignment history. Returns the final state;
    ``results`` carries [vec_a, vec_b, dot, na2, nb2, found_batch]."""
    t2 = tau_milli * tau_milli
    state = SemDedupState(
        assigned=spark.createDataFrame([], ann._ASSIGN_SCHEMA),
        results=spark.createDataFrame(
            [], _PAIR_BATCH_SCHEMA
        ),
    )

    new_vs_all = _new_vs_all_fn(t2)

    def one_batch(b: int) -> None:
        batch = emb.filter(F.col("vec_id") % n_batches == b)
        if b == 0:
            rows, _ = ann.train_centroid_rows(
                batch, n_centroids, iters,
                compute_inertia=False, seed_by_rank=True,
            )
            state.centroid_rows = rows
        asg = local_checkpoint_truncated(
            ann.kernel_assign(batch, state.centroid_rows)
            .filter(F.col("n2") > 0)
        )
        tagged = (
            asg.withColumn("fresh", F.lit(1))
            .unionByName(state.assigned.withColumn("fresh", F.lit(0)))
        )
        new_pairs = (
            tagged.groupBy("cent_id")
            .applyInArrow(new_vs_all, schema=ann._PAIR_SCHEMA)
            .filter(F.expr(_keep_expr(t2)))
            .withColumn("found_batch", F.lit(b).cast("long"))
        )
        prev_assigned, prev_results = state.assigned, state.results
        state.assigned = local_checkpoint_truncated(
            prev_assigned.unionByName(asg)
        )
        state.results = local_checkpoint_truncated(
            prev_results.unionByName(new_pairs)
        )
        n_new = state.results.count() - sum(n for _, n in state.history)
        state.history.append((b, n_new))
        free_checkpoint(prev_assigned)
        free_checkpoint(prev_results)
        free_checkpoint(asg)
        state.batches_done = b + 1

    run_micro_batches(
        spark, n_batches, one_batch, timeout_sec, name="streaming_semdedup"
    )
    return state


@dataclass
class DurableSemDedupState(store.Generations):
    centroid_rows: list | None = None
    batches_done: int = 0
    history: list[dict] = field(default_factory=list)
    # per batch: {batch, n_new_pairs, probed_cells, band_dirs_total,
    #             zone_skipped_dirs, sketch_bytes_read, cand_dirs,
    #             cand_bytes_read, history_bytes_read,
    #             store_bytes_total, gen}
    rebuilds: list = field(default_factory=list)
    # (batch, old_gen, new_gen, hot_frac)
    compactions: list = field(default_factory=list)
    # per maintenance run: compact_semdedup_history's stats dict


def _band_dirs(cells) -> list[str]:
    """The store directories of (band, cent_id) cells."""
    return [f"batch={b}/cent_id={c}" for b, c in cells]


def _cell_stats(asg: DataFrame) -> list:
    """Per-cell [cent_id, t1, t2, n]: theta interval and row count — the
    zone rows of the directories ``asg`` writes (≤ C driver rows)."""
    return asg.groupBy("cent_id").agg(
        F.min("theta_urad").alias("t1"),
        F.max("theta_urad").alias("t2"),
        F.count(F.lit(1)).alias("n"),
    ).collect()


def _append_stores(
    asg: DataFrame, b: int, cell_stats: list, gd: str, write_sketch: bool
) -> None:
    """Append enriched rows ``asg`` as band ``b`` to the generation at
    ``gd``: the assign store, the sketch store (``write_sketch``) and
    the zone rows."""
    import os

    for name, cols, on in (
        ("assign", ["vec_id", "cent_id", "qv", "n2"], True),
        # lazy: bands written before the store crossed the sketch
        # threshold have no sketch (readers fall back to the full read
        # for them; compaction backfills)
        ("sketch", ["vec_id", "cent_id", "n2", "s8", "v8"], write_sketch),
    ):
        if on:
            (
                asg.select(*cols)
                .withColumn("batch", F.lit(b).cast("long"))
                .write.mode("append").partitionBy("batch", "cent_id")
                .parquet(os.path.join(gd, name))
            )
    # zone rows ride the per-cell stats the batch already collected
    # (≤ C driver scalars): the zones sidecar is a tiny JSON file, not a
    # Spark job — two fewer jobs per batch than a parquet zone store,
    # and the read side is an os-level load
    _zones_append(gd, [
        {
            "batch": b, "cent_id": int(r["cent_id"]),
            "tmin_urad": int(r["t1"]), "tmax_urad": int(r["t2"]),
            "n_rows": int(r["n"]),
        }
        for r in cell_stats
    ])


# conservative slack for zone-gap comparisons: per-row theta is rounded
# to the nearest micro-radian (≤ 0.5 µrad each side) plus float64
# arccos error (≪ 1 µrad at these magnitudes)
_ZONE_SLACK_URAD = 4


def _zones_path(gen_dir: str) -> str:
    import os

    return os.path.join(gen_dir, "zones.json")


def _zones_load(gen_dir: str) -> list[dict]:
    import json
    import os

    p = _zones_path(gen_dir)
    if not os.path.exists(p):
        return []
    with open(p) as fh:
        return json.load(fh)


def _zones_write(gen_dir: str, rows: list[dict]) -> None:
    import json
    import os

    os.makedirs(gen_dir, exist_ok=True)
    tmp = _zones_path(gen_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(rows, fh)
    os.replace(tmp, _zones_path(gen_dir))


def _zones_append(gen_dir: str, rows: list[dict]) -> None:
    _zones_write(gen_dir, _zones_load(gen_dir) + rows)

_ENRICH_SCHEMA = (
    "vec_id long, cent_id long, qv array<long>, n2 long, "
    "theta_urad long, s8 long, v8 binary"
)


def _sketch(xm):
    """The int8 SKETCH of (N, D) int64 rows: s8 = max|qv_i| clamped ≥ 1
    and v8_i = round(127·qv_i/s8), |qv_i − v8_i·s8/127| ≤ s8/254 (the
    ann int8-postings convention), v8 as one D-byte binary value per
    row (_v8_binary)."""
    import numpy as np

    s8 = np.maximum(np.abs(xm).max(axis=1), 1)
    return s8, _v8_binary(np.rint(127.0 * xm / s8[:, None]).astype(np.int8))


def _v8_binary(v8):
    """(N, D) int8 matrix → Arrow binary array of N D-byte values over
    the same flat buffer (the stored sketch type)."""
    import numpy as np

    n, d = v8.shape
    offsets = np.arange(0, (n + 1) * d, d, dtype=np.int32)
    return pa.Array.from_buffers(pa.binary(), n, [
        None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(v8)),
    ])


def _v8_matrix(col):
    """Arrow binary column of N non-null D-byte sketches → (N, D) int8
    matrix, a view of its data buffer."""
    import numpy as np

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if not len(col):
        return np.empty((0, ann.DIMS), np.int8)
    off = np.frombuffer(col.buffers()[1], dtype=np.int32)
    off = off[col.offset:col.offset + len(col) + 1]
    return np.frombuffer(col.buffers()[2], dtype=np.int8)[
        off[0]:off[-1]
    ].reshape(len(col), ann.DIMS)


def _enrich_kernel(centroid_rows: list, from_qv: bool):
    """Arrow kernel: assign each vector to its Voronoi cell (the
    kernel_assign integers — np.argmax first-max tie-break) and emit,
    per row, everything the durable store's three sidecars need in ONE
    pass: the full quantized vector (qv, n2), the angle to the
    assigned centroid in micro-radians (theta_urad — the ZONE MAP
    coordinate: cos θ = cdot/√(n2·cn2) over the same integers the
    exact certificate uses), and the int8 SKETCH (s8, v8; _sketch).
    ``from_qv``: input rows carry qv (a store re-read during rebuild)
    instead of a float embedding."""
    import numpy as np

    cent_ids, cm = ann._centroid_arrays(centroid_rows)
    cn2 = (cm * cm).sum(axis=1).astype(np.float64)

    def kernel(batches):
        for b in batches:
            if not b.num_rows:
                continue
            if from_qv:
                xm = bits.np_list_matrix(b.column("qv"), ann.DIMS)
            else:
                xm = ann._quantize_batch(b.column("embedding"))
            best = ann._argmax_dot_chunked(xm, cm)
            n2 = (xm * xm).sum(axis=1)
            cdot = (xm * cm[best]).sum(axis=1).astype(np.float64)
            denom = np.sqrt(
                np.maximum(n2.astype(np.float64) * cn2[best], 1.0)
            )
            theta = np.arccos(np.clip(cdot / denom, -1.0, 1.0))
            s8, v8 = _sketch(xm)
            yield pa.RecordBatch.from_pydict({
                "vec_id": b.column("vec_id"),
                "cent_id": cent_ids[best],
                "qv": bits.arrow_list_column(xm),
                "n2": n2,
                "theta_urad": np.rint(theta * 1e6).astype(np.int64),
                "s8": s8,
                "v8": v8,
            })

    return kernel


def _zone_plan(
    zone_rows: list[dict], batch_iv: dict, tau_milli: int
) -> tuple[list, int]:
    """Driver-side zone pruning (C·bands scalars — no data moves): a
    history (band, cell) directory is SKIPPED when the angular gap
    between its stored [tmin, tmax] theta band and the batch's theta
    interval in that cell exceeds arccos(τ). Sound by the spherical
    triangle inequality — angle(a,h) ≥ |angle(a,c) − angle(h,c)| — so
    a skipped directory provably holds no vector that can reach
    cosine ≥ τ with ANY batch vector of that cell; conservative slack
    covers the µrad rounding of both interval ends. Returns
    (surviving [(band, cent_id)] sorted, n_skipped)."""
    import math

    max_gap = int(math.acos(tau_milli / 1000.0) * 1e6) + _ZONE_SLACK_URAD
    live, skipped = [], 0
    for z in zone_rows:
        c = z["cent_id"]
        iv = batch_iv.get(c)
        if iv is None:
            continue  # unprobed cell: not read, not counted as a skip
        a1, a2 = iv
        gap = max(0, z["tmin_urad"] - a2, a1 - z["tmax_urad"])
        if gap > max_gap:
            skipped += 1
        else:
            live.append((z["batch"], c))
    return sorted(live), skipped


def _sketch_from_qv(df: DataFrame) -> DataFrame:
    """Derive the int8 sketch columns from full qv rows (no centroids
    needed — s8/v8 are per-vector). Used by compaction to BACKFILL
    sketches for bands written before the lazy-sketch cutover, so a
    merged band's sketch is always complete."""
    def kernel(batches):
        for b in batches:
            if not b.num_rows:
                continue
            s8, v8 = _sketch(bits.np_list_matrix(b.column("qv"), ann.DIMS))
            yield pa.RecordBatch.from_pydict({
                "vec_id": b.column("vec_id"),
                "cent_id": b.column("cent_id"),
                "n2": b.column("n2"),
                "s8": s8,
                "v8": v8,
            })

    # a store re-read types the cent_id partition column as int
    return df.select(
        "vec_id", F.col("cent_id").cast("long"), "qv", "n2"
    ).mapInArrow(
        kernel,
        schema="vec_id long, cent_id long, n2 long, s8 long, v8 binary",
    )


def _prefilter_fn(t2: int, tile: int = 8192):
    """Per-cell int8 SKETCH pre-filter: for each history sketch row h,
    keep it iff SOME batch vector a admits
        dot(a, qv_h) ≤ s_h·(dot(a, v8_h)/127 + L1(a)/254) =: U
    reaching the certificate bound D = √(t2·na2·nh2/10⁶). U ≥ dot is
    the int8 reconstruction bound (|qv_i − v8_i·s/127| ≤ s/254), so
    the kept set is a PROVABLE SUPERSET of every history vector that
    can pair — the exact decimal certificate on the full store rows
    decides. Emits [cent_id, batch, vec_id] of kept history rows;
    float64 with the _tile_pairs slack margin, tiled on both sides."""
    def prefilter(table):
        import numpy as np

        fresh = table.column("fresh").to_numpy() == 1
        a, h = table.filter(pa.array(fresh)), table.filter(pa.array(~fresh))
        if not a.num_rows or not h.num_rows:
            return h.select(["cent_id", "batch", "vec_id"]).slice(0, 0)
        am = bits.np_list_matrix(a.column("qv"), ann.DIMS).astype(np.float64)
        n2a = a.column("n2").to_numpy().astype(np.float64)
        l1a = np.abs(am).sum(axis=1)
        hm = _v8_matrix(h.column("v8")).astype(np.float64)
        sh = h.column("s8").to_numpy().astype(np.float64)
        n2h = h.column("n2").to_numpy().astype(np.float64)
        keep = np.zeros(h.num_rows, dtype=bool)
        for j0 in range(0, h.num_rows, tile):
            hj = hm[j0:j0 + tile]
            sj = sh[j0:j0 + tile]
            kj = np.zeros(len(hj), dtype=bool)
            for i0 in range(0, a.num_rows, tile):
                d8 = am[i0:i0 + tile] @ hj.T
                u = sj[None, :] * (
                    d8 / 127.0 + l1a[i0:i0 + tile, None] / 254.0
                )
                rhs = np.sqrt(
                    t2 * np.outer(n2a[i0:i0 + tile], n2h[j0:j0 + tile])
                    / 1e6
                ) * (1.0 - 1e-9)
                kj |= (u >= rhs).any(axis=0)
                if kj.all():
                    break
            keep[j0:j0 + len(hj)] = kj
        return h.select(["cent_id", "batch", "vec_id"]).filter(
            pa.array(keep)
        )

    return prefilter


def compact_semdedup_history(
    spark: SparkSession, gen_dir: str, keep_recent: int = 1
) -> dict:
    """RECENCY-BANDED compaction of the durable store's
    one-directory-per-(batch, cell) layout: merge every band except
    the ``keep_recent`` newest REAL batches into ONE negative-id band
    — fewer, larger
    files per cell (the layout_compaction discipline applied inside
    the partitioned store), while recent batches keep their own
    fine-grained zone rows (recent data is both the most likely to be
    probed against and the cheapest to re-band later). Zone rows of
    merged bands fold to the per-cell min/max envelope — wider, hence
    still CONSERVATIVE for the gap test. Returns a stats dict for the
    caller's ledger."""
    import os
    import shutil

    assign_base = os.path.join(gen_dir, "assign")
    sketch_base = os.path.join(gen_dir, "sketch")
    bands = sorted(
        int(e.name.split("=", 1)[1])
        for e in os.scandir(assign_base)
        if e.is_dir() and e.name.startswith("batch=")
    )
    real = [b for b in bands if b >= 0]
    protect = set(real[len(real) - keep_recent:]) if keep_recent else set()
    merge = sorted(b for b in bands if b not in protect)
    if len(merge) < 2:
        return {"merged_bands": 0, "files_before": 0, "files_after": 0}
    new_band = min(min(merge) - 1, -1)
    stats = {"merged_bands": len(merge), "new_band": new_band}
    src = [
        d for d in (
            os.path.join(assign_base, f"batch={b}") for b in merge
        ) if os.path.isdir(d)
    ]
    if not src:
        return {"merged_bands": 0}
    stats["assign_files_before"] = sum(
        store.data_stats(d)["files"] for d in src
    )
    # one pass over the merged assign rows feeds BOTH the re-banded
    # assign write and the sketch BACKFILL (merging sketch dirs alone
    # would lose rows from bands written before the lazy-sketch
    # cutover — every merged band's sketch must be complete)
    df = local_checkpoint_truncated(
        spark.read.option("basePath", assign_base).parquet(*src)
        .drop("batch")
    )
    (
        df.withColumn("batch", F.lit(new_band).cast("long"))
        .repartition("cent_id")
        .write.mode("append").partitionBy("batch", "cent_id")
        .parquet(assign_base)
    )
    (
        _sketch_from_qv(df)
        .withColumn("batch", F.lit(new_band).cast("long"))
        .repartition("cent_id")
        .write.mode("append").partitionBy("batch", "cent_id")
        .parquet(sketch_base)
    )
    free_checkpoint(df)
    for b in merge:
        shutil.rmtree(
            os.path.join(assign_base, f"batch={b}"), ignore_errors=True
        )
        shutil.rmtree(
            os.path.join(sketch_base, f"batch={b}"), ignore_errors=True
        )
    stats["assign_files_after"] = store.data_stats(
        os.path.join(assign_base, f"batch={new_band}")
    )["files"]
    # fold the merged bands' zone rows to the per-cell min/max
    # envelope — driver-side (the sidecar is a tiny JSON list)
    zones = _zones_load(gen_dir)
    mset = set(merge)
    kept = [z for z in zones if z["batch"] not in mset]
    env: dict[int, dict] = {}
    for z in zones:
        if z["batch"] not in mset:
            continue
        c = z["cent_id"]
        e = env.get(c)
        if e is None:
            env[c] = {
                "batch": new_band, "cent_id": c,
                "tmin_urad": z["tmin_urad"], "tmax_urad": z["tmax_urad"],
                "n_rows": z["n_rows"],
            }
        else:
            e["tmin_urad"] = min(e["tmin_urad"], z["tmin_urad"])
            e["tmax_urad"] = max(e["tmax_urad"], z["tmax_urad"])
            e["n_rows"] += z["n_rows"]
    _zones_write(gen_dir, kept + [env[c] for c in sorted(env)])
    return stats


def start_streaming_semdedup_durable(
    spark: SparkSession,
    emb: DataFrame,
    history_dir: str,
    n_batches: int = 3,
    tau_milli: int = 800,
    n_centroids: int = ann.N_CENTROIDS,
    iters: int = 2,
    train_sample_mod: int = 4,
    sketch_read_min_bytes: int = 32 << 20,
    compact_every: int | None = None,
    compact_keep_recent: int = 1,
    rebuild_hot_frac: float | None = None,
    timeout_sec: float = 300,
) -> DurableSemDedupState:
    """Cross-batch semantic dedup with DURABLE cent_id-partitioned
    history — the scale shape of the in-memory variant.

    Store layout (a generation store, ``sources/store.py`` — pairs are
    generation-INDEPENDENT; batch 0 deletes the generations and pairs
    of an earlier run into the same ``history_dir``):

        {history_dir}/pairs/found_batch=b/
        {history_dir}/gen=N/assign/batch=B/cent_id=C/   [vec_id, qv, n2]
        {history_dir}/gen=N/sketch/batch=B/cent_id=C/   [vec_id, s8, v8, n2]
        {history_dir}/gen=N/zones.json  [batch, cent_id, tmin/tmax_urad, n_rows]
                                        (driver-side sidecar, ≤ C·bands rows)

    Per micro-batch (routing vec_id % n_batches): batch 0 trains the
    coarse quantizer on the SAMPLED slice vec_id % (n_batches ·
    train_sample_mod) == 0 (deterministic modulus — the DuckDB oracle
    replays training symbolically via train_filter). Every batch then
    runs ONE enriched Arrow assignment pass (cell + qv + theta + int8
    sketch per row) and reads history in three provably-lossless
    stages, each OUTPUT-INVARIANT (the gate entry's hash is unchanged
    by any of them):

      1. ZONE SKIP: per probed cell, the batch's theta interval vs
         each (band, cell) zone row — spherical triangle inequality,
         a directory whose angular gap exceeds arccos(τ) cannot hold
         a ≥τ partner and is skipped BEFORE any read (driver-side,
         C·bands scalars).
      2. SKETCH PRE-FILTER (the uniform-regime lever): the surviving
         directories are read from the int8 SKETCH store (~6× fewer
         bytes than the full qv rows) and a per-cell Arrow kernel
         keeps exactly the history rows whose int8 reconstruction
         bound can still reach the certificate (provable superset).
      3. FULL READ, CANDIDATES ONLY: full qv rows are read ONLY for
         the (band, cell) directories holding ≥ 1 candidate,
         semi-joined to candidate ids, and the unchanged
         fresh-triangle + fresh×history kernel + exact decimal
         certificate decide. Under uniform arrivals — where plain
         directory pruning degenerates to re-reading ~the whole store
         every batch — per-batch history bytes now track sketch-size
         + candidate mass, not store size.

    Maintenance, composed into the same foreachBatch loop:

      * ``compact_every``: every k-th batch, recency-banded compaction
        (compact_semdedup_history) merges all but the newest
        ``compact_keep_recent`` real batches into one negative-id
        band — bounding the directory/file count the per-batch listing
        pays, with zone envelopes folded conservatively.
      * ``rebuild_hot_frac`` (the quantizer LIFECYCLE): when a
        batch's hottest-cell fraction exceeds the threshold (the
        ivf_append skew-alarm idea: drifted arrivals collapse into few
        cells of the frozen batch-0 quantizer, gutting the cluster
        restriction's selectivity), retrain on the
        deterministic sample of history ∪ batch, re-enrich the WHOLE
        store into generation N+1 (same one-pass kernel, from qv, and
        the same store writer as the batches), swap to it atomically (a
        half-written generation is invisible, the old one serves until
        the single metadata flip), and defer-delete the old
        generation one batch later. The PAIRS store is untouched: every
        pair already found keeps its attribution across the swap.

    Driver state between batches is COUNTERS ONLY. Output equivalence
    (rebuilds off): a history row in an unprobed cell can never pair
    with a batch row, the zone gap test and the sketch bound are both
    conservative supersets, so the machinery emits EXACTLY the static
    semantic_cluster_pairs pair set with found_batch =
    greatest(vec_a % B, vec_b % B) — which the gate entry hash-checks.
    With rebuilds ON the restriction (hence recall) intentionally
    changes mid-stream; that path is quality-gated by plant recall
    (tests/test_streaming.py), the emb_ivf_rebuild_gen convention.

    Reference analog: the incremental fork's persistent reduce state
    (``reference src/edu/illinois/incr_ga/IncMapReduce.java:241-325``),
    here as a partitioned columnar store instead of re-shipped
    sequence files."""
    import os

    t2 = tau_milli * tau_milli
    state = DurableSemDedupState(history_dir)
    new_vs_all = _new_vs_all_fn(t2)
    prefilter = _prefilter_fn(t2)
    pairs_base = os.path.join(history_dir, "pairs")
    train_mod = n_batches * train_sample_mod

    def one_batch(b: int) -> None:
        if b == 0:
            state.fresh_start(spark, pairs_base)
        state.collect_garbage(spark, b)
        if (
            compact_every is not None and b > 0
            and b % compact_every == 0
        ):
            stats = compact_semdedup_history(
                spark, state.dir, keep_recent=compact_keep_recent
            )
            if stats.get("merged_bands"):
                state.compactions.append({"batch": b, **stats})
        batch = emb.filter(F.col("vec_id") % n_batches == b)
        if b == 0:
            rows, _ = ann.train_centroid_rows(
                batch.filter(F.col("vec_id") % train_mod == 0),
                n_centroids, iters,
                compute_inertia=False, seed_by_rank=True,
            )
            state.centroid_rows = rows
        # persist, not eager localCheckpoint: the enrich kernel feeds
        # 4-5 consumers (cell stats, pre-filter union, fresh pair side,
        # assign/sketch writes) and must materialize once, and the
        # cache's first action (the cell_stats collect below) does that
        # — an eager checkpoint would spend a dedicated job on it. The
        # plan behind the cache is two nodes (filter ∘ mapInArrow over
        # the source leaf), so there is no nested plan tree to truncate;
        # free_checkpoint at batch end falls back to unpersist for plain
        # cached frames.
        asg = (
            batch.select("vec_id", "embedding").mapInArrow(
                _enrich_kernel(state.centroid_rows, from_qv=False),
                schema=_ENRICH_SCHEMA,
            ).filter(F.col("n2") > 0)
        ).persist()
        gd = state.dir
        cell_stats = _cell_stats(asg)
        probed = sorted(int(r["cent_id"]) for r in cell_stats)
        batch_iv = {
            int(r["cent_id"]): (int(r["t1"]), int(r["t2"]))
            for r in cell_stats
        }
        zone_rows = _zones_load(gd)
        to_free: list[DataFrame] = []
        live, zone_skipped = _zone_plan(zone_rows, batch_iv, tau_milli)
        sk_bytes = cand_bytes = 0
        n_cand_dirs = 0
        hist = None
        # adaptive cutover: the sketch detour (2 reads + a pre-filter
        # exchange) only pays once the store dwarfs a batch — below the
        # threshold a tiny store's parquet per-file overhead makes the
        # sketch read nearly as many bytes as the full rows, and the
        # single full read is strictly fewer jobs. Sketches are written
        # LAZILY from the batch where the store first exceeds the
        # threshold (compaction re-bands carry them forward); live
        # bands without a sketch fall back to the full read — a sound
        # superset either way. Tests pin the sketch path with
        # sketch_read_min_bytes=0; the decade probe measures the
        # above-threshold regime.
        store_bytes = store.data_stats(os.path.join(gd, "assign"))["bytes"]
        sketch_on = store_bytes >= sketch_read_min_bytes
        if sketch_on:
            sk_live = [
                (hb, c) for hb, c in live
                if os.path.isdir(os.path.join(
                    gd, "sketch", f"batch={hb}", f"cent_id={c}"
                ))
            ]
            full_live = [bc for bc in live if bc not in set(sk_live)]
        else:
            sk_live, full_live = [], live
        cand = None
        full_dirs = list(full_live)
        if sk_live:
            sk, sk_bytes, _ = store.read_dirs(
                spark, os.path.join(gd, "sketch"), _band_dirs(sk_live),
                ["vec_id", "n2", "s8", "v8"],
            )
            if sk is not None:
                pre = (
                    asg.select(
                        "cent_id", "vec_id", "qv", "n2",
                        F.lit(1).alias("fresh"),
                        F.lit(None).cast("long").alias("s8"),
                        F.lit(None).cast("binary").alias("v8"),
                        F.lit(-1).cast("long").alias("batch"),
                    )
                    .unionByName(sk.select(
                        "cent_id", "vec_id",
                        F.lit(None).cast("array<long>").alias("qv"),
                        "n2", F.lit(0).alias("fresh"), "s8", "v8",
                        "batch",
                    ))
                )
                # persist + let the candidate-dir collect be the
                # materializing action (same move as the asg persist
                # above): one job, where an eager checkpoint followed by
                # the distinct-collect would be two.
                cand = pre.groupBy("cent_id").applyInArrow(
                    prefilter,
                    schema="cent_id long, batch long, vec_id long",
                ).persist()
                cand_dirs = sorted({
                    (int(r["batch"]), int(r["cent_id"]))
                    for r in cand.select("batch", "cent_id")
                    .distinct().collect()
                })
                full_dirs = sorted(set(full_dirs) | set(cand_dirs))
                # cand's blocks are freed only after the pairs write
                # below materializes the semi-join
                to_free.append(cand)
        # two explicit reads: candidate dirs (semi-joined to candidate
        # ids) and unsketched fallback dirs (wholesale). In the pure
        # regimes one of the two is empty; only the threshold-crossing
        # transition batch pays both.
        parts = []
        cdirs = sorted(set(full_dirs) - set(full_live))
        if cdirs:
            n_cand_dirs += len(cdirs)
            cf, nb, _ = store.read_dirs(
                spark, os.path.join(gd, "assign"), _band_dirs(cdirs),
                ["vec_id", "qv", "n2"],
            )
            cand_bytes += nb
            if cf is not None:
                parts.append(cf.join(
                    cand.select("vec_id"), "vec_id", "leftsemi"
                ).select("vec_id", "cent_id", "qv", "n2"))
        if full_live:
            n_cand_dirs += len(full_live)
            ff, nb, _ = store.read_dirs(
                spark, os.path.join(gd, "assign"), _band_dirs(full_live),
                ["vec_id", "qv", "n2"],
            )
            cand_bytes += nb
            if ff is not None:
                parts.append(ff.select("vec_id", "cent_id", "qv", "n2"))
        if parts:
            hist = parts[0]
            for p in parts[1:]:
                hist = hist.unionByName(p)
        fresh_side = asg.select(
            "vec_id", "cent_id", "qv", "n2"
        ).withColumn("fresh", F.lit(1))
        if hist is not None:
            tagged = fresh_side.unionByName(
                hist.withColumn("fresh", F.lit(0))
            )
        else:
            tagged = fresh_side
        new_pairs = (
            tagged.groupBy("cent_id")
            .applyInArrow(new_vs_all, schema=ann._PAIR_SCHEMA)
            .filter(F.expr(_keep_expr(t2)))
            .withColumn("found_batch", F.lit(b).cast("long"))
        )
        # n_new rides the write via observe(): the write's own scan
        # counts the pairs, so no extra job re-reads the found_batch=b
        # directory.
        pairs_obs = Observation()
        new_pairs.observe(
            pairs_obs, F.count(F.lit(1)).alias("n")
        ).write.mode("append").partitionBy("found_batch").parquet(
            pairs_base
        )
        n_new = int(pairs_obs.get["n"])
        for df in to_free:
            free_checkpoint(df)
        _append_stores(asg, b, cell_stats, gd, write_sketch=sketch_on)
        if b == 0:
            state.commit(spark)
        hot = (
            max(int(r["n"]) for r in cell_stats)
            / max(1, sum(int(r["n"]) for r in cell_stats))
            if cell_stats else 0.0
        )
        state.history.append({
            "batch": b,
            "n_new_pairs": int(n_new),
            "probed_cells": len(probed),
            "band_dirs_total": len(zone_rows),
            "zone_skipped_dirs": int(zone_skipped),
            "sketch_bytes_read": int(sk_bytes),
            "cand_dirs": int(n_cand_dirs),
            "cand_bytes_read": int(cand_bytes),
            "history_bytes_read": int(sk_bytes + cand_bytes),
            "store_bytes_total": sum(
                store.data_stats(os.path.join(gd, name))["bytes"]
                for name in ("assign", "sketch")
            ),
            "hot_frac": round(hot, 4),
            "gen": state.gen,
        })
        free_checkpoint(asg)
        if (
            rebuild_hot_frac is not None and hot > rebuild_hot_frac
            and b + 1 < n_batches
        ):
            assigned = spark.read.parquet(os.path.join(gd, "assign"))
            rows, _ = ann.train_centroid_rows(
                assigned.filter(F.col("vec_id") % train_mod == 0)
                .select("vec_id", F.col("qv").alias("embedding"))
                .withColumn(
                    "embedding",
                    F.expr(f"transform(embedding, x -> x / {ann.SCALE}D)"),
                ),
                n_centroids, iters,
                compute_inertia=False, seed_by_rank=True,
            )
            # checkpoint: the re-assignment kernel feeds three
            # consumers (assign write, sketch write, zone stats)
            re_enriched = local_checkpoint_truncated(
                assigned.select("vec_id", "qv").mapInArrow(
                    _enrich_kernel(rows, from_qv=True),
                    schema=_ENRICH_SCHEMA,
                )
            )
            _append_stores(
                re_enriched, b, _cell_stats(re_enriched), state.next_dir,
                write_sketch=True,
            )
            free_checkpoint(re_enriched)
            old, new = state.swap(spark)
            state.centroid_rows = rows
            state.rebuilds.append((b, old, new, round(hot, 4)))
        state.batches_done = b + 1

    run_micro_batches(
        spark, n_batches, one_batch, timeout_sec,
        name="streaming_semdedup_durable",
    )
    return state


def durable_results(spark: SparkSession, history_dir: str) -> DataFrame:
    """The accumulated pair store as a DataFrame
    [vec_a, vec_b, dot, na2, nb2, found_batch]."""
    import os

    pairs_base = os.path.join(history_dir, "pairs")
    if not os.path.isdir(pairs_base):  # a run that found zero pairs
        return spark.createDataFrame([], _PAIR_BATCH_SCHEMA)
    return spark.read.parquet(pairs_base).select(
        "vec_a", "vec_b", "dot", "na2", "nb2",
        F.col("found_batch").cast("long").alias("found_batch"),
    )
