"""Similarity search over embedding columns (scale extension, graded
first-class): brute-force top-k as the exact baseline, sign-LSH bucketed
near-dup as the scale path, and an Arrow/numpy kernel as the hot-path
variant of the same computation.

Exactness discipline: embeddings are float32; both engines promote to
float64 identically, so ``q_j = floor(x_j · 10^6 + 0.5)`` quantizes to
identical int64s. All rankings use **integer dot products** with vec_id
tie-breaks — no float comparisons reach the oracle hash. (Cosine variants
exist for users but report floor-milli values computed from one
deterministic expression.)

Scale shapes:
* brute-force top-k: Q broadcast query rows × N candidates — a broadcast
  nested-loop whose inner side never shuffles; per-partition top-k via
  window row_number, k-row final merge.
* the numpy kernel (mapInArrow) computes the same integer dot products
  as a blocked matmul per Arrow batch — the shape you'd use at 100 TB
  (vector data never leaves the executor; queries ride the closure).
  Every kernel here reads vectors with bits.np_list_matrix (a reshape of
  the Arrow list's flat values) and writes them with
  bits.arrow_list_column, never row by row.
* IVF (float, int8 and PQ postings): kernel_assign puts each vector
  in its max-dot centroid's list in one Arrow pass, and every serve is
  one driver-side probe pick plus one Arrow scan of the probed lists
  only (_probe_scan).
* sign-LSH: 16 seeded hyperplanes with ±1 components from the xxhash64
  stream → 16-bit bucket; pairs within a bucket verified exactly. One
  narrow projection + one self-join on the bucket key.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..functions import bits as _bits, prng
from ..runtime import scoped_persist

DIMS = 64
SCALE = 1_000_000
N_PLANES = 8


def planes_for_count(n_vecs: int, min_planes: int = 8,
                     max_planes: int = 30) -> int:
    """Size the sign-LSH bucket space to the corpus: ⌈log2(n)⌉ + 2.

    Expected in-bucket candidate volume is ~n²/2^(planes+1), so a FIXED
    plane count is quadratic in corpus density: at 2.2M vectors a fixed
    16-plane space ran 39.28× for 10× data while this rule's 24 planes
    ran 1.26× (BASELINE.md). ⌈log2(n)⌉ + 2 keeps the expected bucket
    occupancy ≤ ~n/4·2⁻ˡᵒᵍ²⁽ⁿ⁾ < 1, i.e. the exchange stays near-flat
    as the corpus grows; recall lost to the finer space is recovered by
    banding B independent bucket sets (cosine_near_pairs bands > 1).
    Mirrors sources.bucketing.buckets_for_path, which sizes bucketed
    join spaces the same data-driven way. Clamped to [min_planes,
    max_planes]: below 8 the space is too coarse even for tiny corpora;
    int64 bucket keys cap at 63 planes, and past ~30 the per-plane
    recall loss outpaces any candidate saving at feasible band counts.
    planes_for_count(2_200_000) == 24, the configuration measured at
    that size."""
    import math

    if n_vecs <= 1:
        return min_planes
    return max(min_planes, min(max_planes, math.ceil(math.log2(n_vecs)) + 2))


def _argmax_dot_chunked(xm, cm, cnorm=None, chunk_elems=1 << 24):
    """Row-chunked exact-float64 argmax over xm·cmᵀ (optionally scored
    as 2·dot − cnorm — Lloyd's min-distance form). The full (N, C)
    score block at corpus-sized C is N·C doubles: 655 MB per Arrow
    batch per worker at C=8192, which × 32 workers blew the tenant
    memory cap (the probe's Python workers were OOM-killed); chunking
    caps the block at chunk_elems (134 MB) regardless of C. All values
    stay < 2^53 so float64 comparisons are exact; np.argmax first-max
    keeps the lowest-index tie-break."""
    import numpy as np

    cf = cm.astype(np.float64)
    cnf = cnorm.astype(np.float64) if cnorm is not None else None
    rows = max(1, chunk_elems // max(1, len(cm)))
    out = np.empty(len(xm), dtype=np.int64)
    for i in range(0, len(xm), rows):
        s = xm[i:i + rows].astype(np.float64) @ cf.T
        if cnf is not None:
            s = 2.0 * s - cnf
        out[i:i + rows] = np.argmax(s, axis=1)
    return out


def _quantize_batch(col):
    """An Arrow ``embedding`` column as the (N, D) int64 matrix the SQL
    forms produce: floor(x · 10^6 + 0.5) over the float64 promotion of
    each float32 component."""
    import numpy as np

    return np.floor(
        _bits.np_list_matrix(col, DIMS).astype(np.float64) * SCALE + 0.5
    ).astype(np.int64)


def _centroid_arrays(centroid_rows: list):
    """``(cent_ids, cm)`` of centroid rows ``[(cent_id, [D ints])]`` in
    cent_id order (cent_ids are seed vec_ids, not necessarily 0..C−1;
    np.searchsorted(cent_ids, c) is cent_id c's row).
    ``cent_ids[_argmax_dot_chunked(xm, cm)]`` is each row's max-dot
    centroid: np.argmax keeps the first maximum, so ties go to the
    lowest cent_id, as in the DuckDB twin _duck_asgn_cte."""
    import numpy as np

    rows = sorted(centroid_rows)
    cent_ids = np.array([cid for cid, _ in rows], dtype=np.int64)
    cm = np.array([cv for _, cv in rows], dtype=np.int64)  # (C, D)
    return cent_ids, cm


def _i64_matmul(a, b):
    """Exact int64 matmul via BLAS float64. Every product and partial
    sum in this module's quantized ranges stays < 2^53 (max |dot| =
    64 · 577,001² ≈ 2.1e13; residual components at most double the
    base range, 8-term subspace sums ≤ 1.1e13), so the float64 path
    is BIT-IDENTICAL to integer arithmetic — and it reaches BLAS,
    where numpy's int64 @ is a naive non-BLAS loop ~100× slower."""
    import numpy as np

    return (a.astype(np.float64) @ b.astype(np.float64)).astype(np.int64)


def _head_per_group(order, keys, n: int):
    """``order``, a lexsort whose primary key is ``keys``, cut to the
    first n entries of each key: row_number() <= n over a window
    partitioned by ``keys``."""
    import numpy as np

    g = keys[order]
    return order[np.arange(len(g)) - np.searchsorted(g, g) < n]


def _q(arr: str, j: int) -> str:
    """Quantized component. The float32 → float64 cast must be explicit
    and FIRST: both engines otherwise multiply in single precision
    (float32 × int literal stays float32), rounding differently."""
    return (
        f"cast(floor(cast(element_at({arr}, {j + 1}) as double)"
        f" * {SCALE}.0 + 0.5) as bigint)"
    )


def _duck_q(arr: str, j: int) -> str:
    return (
        f"cast(floor(cast(list_extract({arr}, {j + 1}) as double)"
        f" * {SCALE}.0 + 0.5) as bigint)"
    )


def dot_sql(a: str, b: str, dialect: str = "spark") -> str:
    f = _q if dialect == "spark" else _duck_q
    return "(" + " + ".join(f"{f(a, j)} * {f(b, j)}" for j in range(DIMS)) + ")"


def quantize_expr(arr: str = "embedding") -> str:
    """Materialize the quantized int64 vector ONCE per row (literal-index
    array, codegen'd). Downstream dots/buckets index this array instead of
    re-quantizing — without this, the 8-plane LSH bucket expression
    re-quantized every component 8× and blew janino's 64 KB method limit
    (whole-stage codegen fell back to interpreted)."""
    return "array(" + ", ".join(_q(arr, j) for j in range(DIMS)) + ")"


def qdot_sql(a: str, b: str) -> str:
    """Dot product over pre-quantized arrays."""
    return "(" + " + ".join(
        f"element_at({a}, {j + 1}) * element_at({b}, {j + 1})"
        for j in range(DIMS)
    ) + ")"


def topk_dot(
    emb: DataFrame, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """Exact top-k by integer dot product for the first ``n_queries``
    vectors. Output: [query_id, vec_id, dot, rank]."""
    from pyspark.sql import Window

    qz = emb.select("vec_id", F.expr(quantize_expr()).alias("qv"))
    q = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qe")
    )
    pairs = q.crossJoin(qz).filter(F.col("query_id") != F.col("vec_id"))
    scored = pairs.select(
        "query_id", "vec_id", F.expr(qdot_sql("qe", "qv")).alias("dot")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def duck_topk_sql(n_queries: int = 5, k: int = 10,
                  table: str = "embeddings") -> str:
    dot = dot_sql("qe", "embedding", "duckdb")
    return f"""(
      WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM {table}
        WHERE vec_id < {n_queries}
      ), scored AS (
        SELECT q.query_id, e.vec_id, {dot} AS dot
        FROM q CROSS JOIN {table} e WHERE q.query_id != e.vec_id
      ), ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY dot DESC, vec_id ASC) AS rank
        FROM scored
      )
      SELECT query_id, vec_id, dot, cast(rank as bigint) AS rank
      FROM ranked WHERE rank <= {k}
    )"""


def topk_dot_numpy(
    emb: DataFrame, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """The same exact top-k as a blocked numpy matmul over Arrow batches
    (mapInArrow) — identical output (same quantization), same oracle.
    This is the 100 TB shape: per-partition candidate blocks × broadcast
    query matrix, k-row partial tops merged by one tiny final window."""
    import numpy as np
    from pyspark.sql import Window

    qt = emb.filter(F.col("vec_id") < n_queries).select(
        "vec_id", "embedding"
    ).toArrow()
    qids = qt.column("vec_id").to_numpy()
    qm = _quantize_batch(qt.column("embedding"))  # (Q, D)

    def block_topk(batches):
        for b in batches:
            dots = _quantize_batch(b.column("embedding")) @ qm.T  # (N, Q)
            vids = b.column("vec_id").to_numpy()
            n, qi = np.nonzero(vids[:, None] != qids)
            q, v, d = qids[qi], vids[n], dots[n, qi]
            # partial top-k per block (order fixed by final window)
            top = _head_per_group(np.lexsort((v, -d, q)), q, k)
            yield pa.RecordBatch.from_pydict(
                {"query_id": q[top], "vec_id": v[top], "dot": d[top]}
            )

    partial = emb.select("vec_id", "embedding").mapInArrow(
        block_topk, schema="query_id long, vec_id long, dot long"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


N_CENTROIDS = 8
N_PROBES = 2


# Every training set is at most this many rows per codeword: the bound
# FAISS's k-means trains on (max_points_per_centroid, Johnson, Douze and
# Jégou, "Billion-scale similarity search with GPUs").
MAX_POINTS_PER_CODE = 256


def _nearest_codes(xm, cb):
    """(N, G) index of the nearest codeword per S-wide slice g of the
    (N, G·S) int64 matrix ``xm`` among the K rows of ``cb[g]`` (cb is
    (G, K, S)): argmax 2x·c − |c|², ties to the lowest index."""
    import numpy as np

    s = cb.shape[2]
    return np.column_stack([
        _argmax_dot_chunked(
            xm[:, g * s:(g + 1) * s], cb[g], (cb[g] * cb[g]).sum(axis=1)
        )
        for g in range(len(cb))
    ])


def _training_keys(k: int, seed_by_rank: bool) -> list:
    """Sort keys of the training set of a K-codeword model: the seeded
    xxhash64 of vec_id, then vec_id; for the vec_id < K seed rule the
    seed rows sort first, so they are always in the set."""
    keys = [F.expr(prng.spark_hash("vec_id")), F.col("vec_id")]
    return keys if seed_by_rank else [F.col("vec_id") >= k] + keys


def _lloyd(
    src: DataFrame, matrix, k: int, groups: int, iters: int,
    compute_inertia: bool = False, seed_by_rank: bool = False,
):
    """The one Lloyd's loop behind the IVF and PQ trainers: G groups of
    K codewords over S-wide slices (S = D/G) of the (N, D) int64 matrix
    ``matrix(batch)`` maps an Arrow batch to.

    One Spark job: the training set, at most MAX_POINTS_PER_CODE·K rows
    of ``src`` in _training_keys order, reaches the driver in one
    toArrow, and every iteration runs there on a model of K·D integers.
    Seeds are its rows with vec_id < K, or with ``seed_by_rank`` its K
    smallest vec_ids, in vec_id order, sliced into G groups. An input of
    at most that many rows is its own training set. Per iteration each
    row goes to its nearest codeword (_nearest_codes); per-code sums are
    exact int64 (a sort + np.add.reduceat); the update is the mean
    rounded half up, sum → one IEEE double divide → floor(· + 0.5), op
    for op the DuckDB replays (_duck_kmeans_ctes, _duck_pq_ctes); an
    empty code keeps its codeword. Returns (seed vec_ids, (G, K, S)
    codebook, inertia over the training set per iteration — empty
    unless ``compute_inertia``)."""
    import numpy as np

    t = (
        src.orderBy(*_training_keys(k, seed_by_rank))
        .limit(MAX_POINTS_PER_CODE * k)
        .toArrow()
    )
    ids = t.column("vec_id").to_numpy()
    by_id = np.argsort(ids, kind="stable")
    seeds = by_id[:k] if seed_by_rank else by_id[ids[by_id] < k]
    xm = matrix(t)  # (N, D)
    s = xm.shape[1] // groups
    cb = xm[seeds].reshape(len(seeds), groups, s).transpose(1, 0, 2).copy()
    history: list[float] = []
    for _ in range(iters):
        best = _nearest_codes(xm, cb)
        sums = np.zeros_like(cb)
        cnt = np.zeros(cb.shape[:2], dtype=np.int64)
        inert = 0
        for g in range(groups):
            xs, bg, cm = xm[:, g * s:(g + 1) * s], best[:, g], cb[g]
            order = np.argsort(bg, kind="stable")
            codes, starts = np.unique(bg[order], return_index=True)
            sums[g, codes] = np.add.reduceat(xs[order], starts, axis=0)
            cnt[g] = np.bincount(bg, minlength=len(cm))
            if compute_inertia:
                # |x|² − (2x·c − |c|²) per row, summed per code in int64
                d2 = (xs * xs).sum(axis=1) - (
                    2 * np.einsum("ij,ij->i", xs, cm[bg])
                    - (cm * cm).sum(axis=1)[bg]
                )
                inert += sum(map(int, np.add.reduceat(d2[order], starts)))
        if compute_inertia:
            history.append(float(inert))
        mean = np.floor(sums / np.maximum(cnt, 1)[..., None] + 0.5)
        cb = np.where(cnt[..., None] > 0, mean.astype(np.int64), cb)
    return ids[seeds], cb, history


def _quantized(b):
    """The quantized ``embedding`` matrix of an Arrow batch or table."""
    return _quantize_batch(b.column("embedding"))


def train_centroid_rows(
    emb: DataFrame, n_centroids: int = N_CENTROIDS, iters: int = 3,
    compute_inertia: bool = True,
    seed_by_rank: bool = False,
):
    """Lloyd's k-means over the quantized vectors — the training step
    that turns ivf_topk's deterministic seed centroids into real ones:
    _lloyd with one group over all D dimensions, on a training set of at
    most MAX_POINTS_PER_CODE·C vectors (the whole input below that).
    Seeds are the first C quantized vectors (vec_id < C), or with
    ``seed_by_rank`` the C smallest vec_ids of the training set, which a
    slice whose ids are not dense from 0 needs (the duck replay's
    train_filter branch matches). Returns ``(rows, history)``: rows is
    the LOCAL model ``[(cent_id, [D ints]), ...]`` (session-independent
    plain rows, so callers cache them; centroid_frame makes them a
    DataFrame) and history the inertia over the training set per
    iteration, which the tests pin as non-increasing."""
    ids, cb, history = _lloyd(
        emb.select("vec_id", "embedding"), _quantized, n_centroids, 1,
        iters, compute_inertia, seed_by_rank,
    )
    return [(int(c), cv.tolist()) for c, cv in zip(ids, cb[0])], history


CENTROID_SCHEMA = "cent_id long, cv array<long>"


def centroid_frame(spark, rows: list) -> DataFrame:
    """Centroid rows ``[(cent_id, [D ints])]`` as a one-partition
    CENTROID_SCHEMA DataFrame, from a pyarrow.Table the JVM reads
    directly: Python rows would pay a Python worker's fixed cost (a few
    hundred ms). The JVM slices the table over the default parallelism;
    one partition makes a centroid table one file and one write task,
    and its read one task."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "cent_id": pa.array([cid for cid, _ in rows], pa.int64()),
        "cv": pa.array([list(cv) for _, cv in rows], pa.list_(pa.int64())),
    })).coalesce(1)


def _query_matrix(df: DataFrame):
    """(ids, (R, D) int64 matrix) of the driver-collected rows [id,
    vector] of ``df``."""
    import numpy as np

    t = df.toArrow()
    return t.column(0).to_numpy(), _bits.np_list_matrix(
        t.column(1), DIMS
    ).astype(np.int64)


def _probe_scan(
    postings: DataFrame, cents: DataFrame, qids, qm, cols: tuple,
    score, score_col: str, k: int, n_probes: int,
) -> DataFrame:
    """The one IVF serve: top-k of the query rows ``qids`` over
    ``postings`` [vec_id, cent_id, *cols] → [query_id, vec_id,
    score_col, rank]. The driver picks each query's n_probes centroids
    by exact dot of its probe vector (row of ``qm``, (R, D) int64) with
    each centroid, ties to the lowest cent_id, in one probe window per
    query_id (duplicate query rows share it, as in the DuckDB twins), so
    only the probed lists are scanned — directory pruning on a
    cent_id-partitioned index. One mapInArrow scores each batch with
    ``score(batch, ldot)``, an (N, R) int64 matrix (``ldot`` is each
    row's list dot with each query row, from the probe pick), drops each
    query's own row and keeps a k-row partial top-k by (score desc,
    vec_id); one window merges the partials."""
    import numpy as np
    from pyspark.sql import Window

    cent_ids, cm = _centroid_arrays(cents.select("cent_id", "cv").collect())
    pdot = _i64_matmul(qm, cm.T)  # (R, C)
    # probe pair i = (query row, centroid) = divmod(i, C)
    row, c = np.divmod(np.arange(pdot.size), len(cent_ids))
    pick = _head_per_group(
        np.lexsort((cent_ids[c], -pdot.ravel(), qids[row])), qids[row],
        n_probes,
    )
    probe_row, probe_cent = row[pick], cent_ids[c[pick]]
    probe_qid = qids[probe_row]

    def scan(batches):
        for b in batches:
            if not b.num_rows:
                continue
            vid = b.column("vec_id").to_numpy()
            cid = b.column("cent_id").to_numpy()
            s_all = score(b, pdot[:, np.searchsorted(cent_ids, cid)].T)
            n, i = np.nonzero(
                (cid[:, None] == probe_cent) & (vid[:, None] != probe_qid)
            )
            q, v, s = probe_qid[i], vid[n], s_all[n, probe_row[i]]
            top = _head_per_group(np.lexsort((v, -s, q)), q, k)
            yield pa.RecordBatch.from_pydict(
                {"query_id": q[top], "vec_id": v[top], score_col: s[top]}
            )

    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc("vec_id")
    )
    probed = sorted(set(probe_cent.tolist()))
    return (
        postings.filter(F.col("cent_id").isin(probed))
        .select("vec_id", "cent_id", *cols)
        .mapInArrow(
            scan, schema=f"query_id long, vec_id long, {score_col} long"
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_serve_topk(
    assigned: DataFrame, cents: DataFrame,
    n_queries: int = 5, k: int = 10, n_probes: int = N_PROBES,
) -> DataFrame:
    """The SERVE stage of IVF top-k over a postings table [vec_id, qv,
    cent_id] (from kernel_assign or a reloaded index artifact) for the
    rows vec_id < n_queries: _probe_scan with probes picked by the
    query's qv and each candidate scored by the exact dot qv·qe.
    Output: [query_id, vec_id, dot, rank]."""
    return _serve_qv(
        assigned, cents, assigned.filter(F.col("vec_id") < n_queries),
        k, n_probes,
    )


def _serve_qv(
    assigned: DataFrame, cents: DataFrame, queries: DataFrame,
    k: int, n_probes: int,
) -> DataFrame:
    """ivf_serve_topk with the query rows [vec_id, qv, ...] collected
    from ``queries``."""
    qids, qe = _query_matrix(queries.select("vec_id", "qv"))

    def dot(b, _):
        return _i64_matmul(_bits.np_list_matrix(b.column("qv"), DIMS), qe.T)

    return _probe_scan(
        assigned, cents, qids, qe, ("qv",), dot, "dot", k, n_probes
    )


def ivf_topk(
    emb: DataFrame, n_queries: int = 5, k: int = 10,
    n_centroids: int = N_CENTROIDS, n_probes: int = N_PROBES,
    centroid_rows: list | None = None,
) -> DataFrame:
    """IVF-style ANN: vectors are assigned to their nearest of the
    centroid rows ``[(cent_id, [D ints])]`` by kernel_assign, then
    ivf_serve_topk probes each query's ``n_probes`` nearest lists and
    scans only those. Without centroid rows the centroids are the
    ``n_centroids`` seed vectors untrained (train_centroid_rows with
    zero iterations) — the oracle-checkable baseline; pass
    train_centroid_rows(...)[0] for Lloyd's-trained lists.

    Output: [query_id, vec_id, dot, rank] — approximate (recall < 1 vs
    emb_topk_dot when the true neighbor lives in an unprobed list)."""
    if centroid_rows is None:
        centroid_rows, _ = train_centroid_rows(emb, n_centroids, 0)
    # the query rows come from the kernel over the query vectors only
    # (it is row-wise), not from a filter above the corpus-wide kernel
    return _serve_qv(
        kernel_assign(emb, centroid_rows),
        centroid_frame(emb.sparkSession, centroid_rows),
        kernel_assign(
            emb.filter(F.col("vec_id") < n_queries), centroid_rows
        ),
        k, n_probes,
    )


def duck_ivf_topk_sql(
    n_queries: int = 5, k: int = 10,
    n_centroids: int = N_CENTROIDS, n_probes: int = N_PROBES,
    table: str = "embeddings",
) -> str:
    """Oracle twin of ivf_topk with the seed centroids: the trained
    replay with zero Lloyd's iterations."""
    return duck_trained_ivf_sql(
        n_queries, k, n_centroids, n_probes, 0, table
    )


def duck_serve_sql(
    postings: str, cents: str,
    n_queries: int = 5, k: int = 10, n_probes: int = N_PROBES,
) -> str:
    """Oracle twin of ivf_serve_topk, as one subquery over the DuckDB
    tables or CTEs ``postings`` [vec_id, qv, cent_id] and ``cents``
    [cent_id, cv]."""
    return f"""(
      WITH probes AS (SELECT query_id, qe, cent_id FROM (
        SELECT q.vec_id AS query_id, q.qv AS qe, c.cent_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_duck_ldot('q.qv', 'c.cv')} DESC,
                          c.cent_id ASC) AS pr
        FROM {postings} q CROSS JOIN {cents} c
        WHERE q.vec_id < {n_queries}) _p WHERE pr <= {n_probes}),
      hits AS (SELECT p.query_id, a.vec_id,
               {_duck_ldot('p.qe', 'a.qv')} AS dot
        FROM probes p JOIN {postings} a ON a.cent_id = p.cent_id
        WHERE p.query_id != a.vec_id)
      {_duck_rank_sql("hits", "dot", k)}
    )"""


def _duck_with(ctes: list, serve: str) -> str:
    """``serve``, a subquery over the CTEs ``ctes``, as one query."""
    body = ",\n      ".join(ctes)
    return f"""(
      WITH {body}
      SELECT * FROM {serve} _s
    )"""


def _duck_rank_sql(hits: str, score: str, k: int) -> str:
    """The top k rows of ``hits`` [query_id, vec_id, score] per query by
    (score desc, vec_id), with a bigint rank: the serves' final window."""
    return (
        f"SELECT query_id, vec_id, {score}, cast(rank as bigint) AS rank "
        f"FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
        f"ORDER BY {score} DESC, vec_id ASC) AS rank FROM {hits}) _r "
        f"WHERE rank <= {k}"
    )


def _duck_qlist(arr: str) -> str:
    """Quantized int64 list literal (DuckDB twin of quantize_expr)."""
    return "[" + ", ".join(_duck_q(arr, j) for j in range(DIMS)) + "]"


def _duck_ldot(a: str, b: str) -> str:
    """Dot product over two pre-quantized DuckDB lists (1-based index)."""
    return "(" + " + ".join(
        f"{a}[{j + 1}] * {b}[{j + 1}]" for j in range(DIMS)
    ) + ")"


def _duck_asgn_cte(cents: str) -> str:
    """``asgn`` [vec_id, qv, cent_id]: each ``qz`` vector's max-dot
    centroid in ``cents``, ties to the lowest cent_id (the DuckDB twin
    of kernel_assign)."""
    return (
        f"asgn AS (SELECT vec_id, qv, cent_id FROM ("
        f"SELECT v.vec_id, v.qv, c.cent_id, "
        f"row_number() OVER (PARTITION BY v.vec_id "
        f"ORDER BY {_duck_ldot('v.qv', 'c.cv')} DESC, c.cent_id ASC) AS arn "
        f"FROM qz v CROSS JOIN {cents} c) _a WHERE arn = 1)"
    )


def _duck_training_cte(
    name: str, src: str, cols: str, k: int, seed_by_rank: bool
) -> str:
    """``name`` [``cols``]: the training set _lloyd collects for a
    K-codeword model from the relation ``src``, ordered as
    _training_keys (prng.duck_hash_query replays Spark's xxhash64 of
    vec_id) and cut to MAX_POINTS_PER_CODE·K rows. MATERIALIZED, so
    the hash chain runs once, not once per iteration that reads it."""
    keys = "h, vec_id" if seed_by_rank else f"vec_id >= {k}, h, vec_id"
    hashed = prng.duck_hash_query(f"SELECT {cols} FROM {src}", ["vec_id"], "h")
    return (
        f"{name} AS MATERIALIZED (SELECT {cols} FROM {hashed} _t "
        f"ORDER BY {keys} LIMIT {MAX_POINTS_PER_CODE * k})"
    )


def _duck_kmeans_ctes(
    n_centroids: int = N_CENTROIDS, iters: int = 3,
    table: str = "embeddings",
    train_filter: str | None = None,
) -> tuple[list, str]:
    """Unrolled Lloyd's-training CTEs replaying train_centroid_rows
    exactly: the training set ``qzt`` is _lloyd's (_duck_training_cte)
    and the seed centroids its first C quantized vectors (vec_id < C);
    per iteration a min-distance assignment of qzt (argmax 2x·c − |c|²,
    ties to the lowest cent_id) and a per-dimension mean rounded
    half-up via exact int64 sums + one IEEE double divide + floor (the
    same arithmetic _lloyd performs); empty clusters keep their previous
    centroid. Returns (ctes, name-of-final-centroid-CTE); qz holds every
    quantized vector, which assignment/serve CTEs built on top use.

    ``train_filter``: optional predicate restricting TRAINING to a
    slice of the table (the incremental-append replay: centroids are
    trained on the initial batch only, later batches are assigned to
    them). The training set is then drawn from the slice, and the seeds
    are its C smallest vec_ids (rank, not vec_id < C — the slice may
    not contain ids 0..C−1): train_centroid_rows(seed_by_rank=True)."""
    by_rank = train_filter is not None
    ctes = [
        f"qz AS (SELECT vec_id, {_duck_qlist('embedding')} AS qv "
        f"FROM {table})",
        _duck_training_cte(
            "qzt", f"qz WHERE {train_filter}" if by_rank else "qz",
            "vec_id, qv", n_centroids, by_rank,
        ),
    ]
    if not by_rank:
        ctes.append(
            f"cents0 AS (SELECT vec_id AS cent_id, qv AS cv FROM qzt "
            f"WHERE vec_id < {n_centroids})"
        )
    else:
        ctes.append(
            f"cents0 AS (SELECT vec_id AS cent_id, qv AS cv FROM ("
            f"SELECT *, row_number() OVER (ORDER BY vec_id) AS srn "
            f"FROM qzt) _s WHERE srn <= {n_centroids})"
        )
    prev = "cents0"
    for i in range(1, iters + 1):
        ctes.append(
            f"sc{i} AS (SELECT v.vec_id, v.qv, c.cent_id, "
            f"2 * {_duck_ldot('v.qv', 'c.cv')} - "
            f"{_duck_ldot('c.cv', 'c.cv')} AS score "
            f"FROM qzt v CROSS JOIN {prev} c)"
        )
        ctes.append(
            f"ag{i} AS (SELECT vec_id, qv, cent_id FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY vec_id "
            f"ORDER BY score DESC, cent_id ASC) AS rn FROM sc{i}) _x "
            f"WHERE rn = 1)"
        )
        ctes.append(
            f"mn{i} AS (SELECT cent_id, list(v ORDER BY pos) AS cv FROM ("
            f"SELECT cent_id, j AS pos, "
            f"cast(floor(cast(sum(qv[j + 1]) as double) / count(*) + 0.5) "
            f"as bigint) AS v "
            f"FROM ag{i} CROSS JOIN range(0, {DIMS}) r(j) "
            f"GROUP BY cent_id, j) _m GROUP BY cent_id)"
        )
        ctes.append(
            f"cents{i} AS (SELECT p.cent_id, coalesce(m.cv, p.cv) AS cv "
            f"FROM {prev} p LEFT JOIN mn{i} m USING (cent_id))"
        )
        prev = f"cents{i}"
    return ctes, prev


def duck_trained_ivf_sql(
    n_queries: int = 5, k: int = 10,
    n_centroids: int = N_CENTROIDS, n_probes: int = N_PROBES,
    iters: int = 3, table: str = "embeddings",
) -> str:
    """Oracle twin of ivf_topk(emb, centroid_rows=train_centroid_rows(
    emb)[0]): replays the ENTIRE training via _duck_kmeans_ctes, assigns
    by max dot (_duck_asgn_cte) and serves with duck_serve_sql."""
    ctes, prev = _duck_kmeans_ctes(n_centroids, iters, table)
    ctes.append(_duck_asgn_cte(prev))
    return _duck_with(
        ctes, duck_serve_sql("asgn", prev, n_queries, k, n_probes)
    )


# --------------------------------------------------------------------------
# int8-quantized IVF postings
# --------------------------------------------------------------------------
# [vec_id, cent_id, v8 array<tinyint>, scale bigint]: 1 byte per component
# instead of 8, at a recall cost measured by emb_ivf_recall_int8. Spark
# encodes and serves them with Arrow kernels (encode_postings_int8,
# ivf_serve_topk_int8); _v8_sql and duck_serve_int8_sql are their DuckDB
# twins, which the oracles replay.

INT8_MAX = 127


def _scale_sql(arr: str) -> str:
    """Per-vector symmetric scale of a DuckDB int64 list: max |component|,
    clamped ≥ 1 (zero vectors would divide by 0)."""
    el = ", ".join(f"abs({arr}[{j + 1}])" for j in range(DIMS))
    return f"greatest({el}, 1)"


def _q8_sql(arr: str, j: int, scale: str) -> str:
    """One int8 component in DuckDB: sign(x) · round_half_up(127·|x| /
    scale), in PURE int64 arithmetic — (|x|·254 + scale) // (2·scale) —
    so it matches the kernel bit-exactly. The abs/sign split keeps the
    integer division on non-negative operands, where flooring and
    truncating division agree. |x| ≤ scale ⇒ the result is in
    [−127, 127] and the tinyint cast is safe."""
    x = f"{arr}[{j + 1}]"
    return (
        f"cast((CASE WHEN {x} < 0 THEN -1 ELSE 1 END) * "
        f"((abs({x}) * {2 * INT8_MAX} + {scale}) // (2 * {scale})) "
        f"as tinyint)"
    )


def _v8_sql(arr: str, scale: str) -> str:
    elems = ", ".join(_q8_sql(arr, j, scale) for j in range(DIMS))
    return f"[{elems}]"


def _dot8_sql(a: str, b: str) -> str:
    """DuckDB dot over two lists, with each element widened to bigint
    FIRST — tinyint·tinyint would overflow the byte domain."""
    return "(" + " + ".join(
        f"cast({a}[{j + 1}] as bigint) * cast({b}[{j + 1}] as bigint)"
        for j in range(DIMS)
    ) + ")"


POSTINGS8_SCHEMA = "vec_id long, cent_id long, v8 array<tinyint>, scale long"


def encode_postings_int8(emb: DataFrame, centroid_rows: list) -> DataFrame:
    """Encode [vec_id, embedding] as int8 IVF postings [vec_id, cent_id,
    v8, scale] in one Arrow pass with no exchange. Per batch: quantize
    (floor(x·10^6 + 0.5)), take the max-dot centroid (ties to the
    lowest cent_id), then scale = max(max|q|, 1) and v8 = sign(q) ·
    ((|q|·254 + scale) // (2·scale)) in int64 arithmetic. The rows are
    bit-identical to _scale_sql/_v8_sql over _duck_asgn_cte, from a
    constant-size plan. The coarse quantizer (the centroid rows)
    stays full precision, standard IVF-SQ practice."""
    import numpy as np

    cent_ids, cm = _centroid_arrays(centroid_rows)

    def encode(batches):
        for b in batches:
            if not b.num_rows:
                continue
            xm = _quantize_batch(b.column("embedding"))  # (N, D)
            ax = np.abs(xm)
            scale = np.maximum(ax.max(axis=1), 1)  # (N,)
            s = scale[:, None]
            mag = (ax * (2 * INT8_MAX) + s) // (2 * s)
            yield pa.RecordBatch.from_pydict({
                "vec_id": b.column("vec_id"),
                "cent_id": cent_ids[_argmax_dot_chunked(xm, cm)],
                "v8": _bits.arrow_list_column(
                    np.where(xm < 0, -mag, mag).astype(np.int8)
                ),
                "scale": scale,
            })

    return emb.select("vec_id", "embedding").mapInArrow(
        encode, schema=POSTINGS8_SCHEMA
    )


def ivf_serve_topk_int8(
    p8: DataFrame, cents: DataFrame,
    n_queries: int = 5, k: int = 10, n_probes: int = N_PROBES,
) -> DataFrame:
    """Top-k over int8 postings [vec_id, cent_id, v8, scale] for the rows
    vec_id < n_queries: [query_id, vec_id, sdot, rank]. _probe_scan with
    probes picked by the int8 query qe8, and one BLAS matmul per batch
    scoring sdot = dot8(qe8, v8)·scale_v for all queries (exact: |sdot|
    ≤ 64·127²·577,001 < 2^53; it ranks like the symmetric
    reconstruction, scale_q/127² being constant per query)."""
    return _serve_int8(
        p8, cents, p8.filter(F.col("vec_id") < n_queries), k, n_probes
    )


def _serve_int8(
    p8: DataFrame, cents: DataFrame, queries: DataFrame,
    k: int, n_probes: int,
) -> DataFrame:
    """ivf_serve_topk_int8 with the query rows [vec_id, v8, ...]
    collected from ``queries``."""
    qids, qe8 = _query_matrix(queries.select("vec_id", "v8"))

    def sdot(b, _):
        v8 = _bits.np_list_matrix(b.column("v8"), DIMS)
        return _i64_matmul(v8, qe8.T) * b.column("scale").to_numpy()[:, None]

    return _probe_scan(
        p8, cents, qids, qe8, ("v8", "scale"), sdot, "sdot", k, n_probes
    )


def ivf_topk_int8(
    emb: DataFrame, centroid_rows: list,
    n_queries: int = 5, k: int = 10, n_probes: int = N_PROBES,
) -> DataFrame:
    """encode_postings_int8 → serve (no durable artifact — the
    postings entry adds the parquet write/read split). As in ivf_topk,
    the query rows come from the kernel over the query vectors only."""
    return _serve_int8(
        encode_postings_int8(emb, centroid_rows),
        centroid_frame(emb.sparkSession, centroid_rows),
        encode_postings_int8(
            emb.filter(F.col("vec_id") < n_queries), centroid_rows
        ),
        k, n_probes,
    )


def duck_serve_int8_sql(
    p8: str, cents: str,
    n_queries: int = 5, k: int = 10, n_probes: int = N_PROBES,
) -> str:
    """Oracle twin of ivf_serve_topk_int8, as one subquery over the
    DuckDB tables or CTEs ``p8`` and ``cents`` [cent_id, cv]."""
    return f"""(
      WITH probes8 AS (SELECT query_id, qe8, cent_id FROM (
        SELECT q.vec_id AS query_id, q.v8 AS qe8, c.cent_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {_dot8_sql('q.v8', 'c.cv')} DESC,
                          c.cent_id ASC) AS pr
        FROM {p8} q CROSS JOIN {cents} c WHERE q.vec_id < {n_queries}) _p
        WHERE pr <= {n_probes}),
      hits8 AS (SELECT p.query_id, a.vec_id,
               {_dot8_sql('p.qe8', 'a.v8')} * a.scale AS sdot
        FROM probes8 p JOIN {p8} a ON a.cent_id = p.cent_id
        WHERE p.query_id != a.vec_id)
      {_duck_rank_sql("hits8", "sdot", k)}
    )"""


def duck_trained_ivf_int8_sql(
    n_queries: int = 5, k: int = 10,
    n_centroids: int = N_CENTROIDS, n_probes: int = N_PROBES,
    iters: int = 3, table: str = "embeddings",
    train_filter: str | None = None,
) -> str:
    """Oracle twin of ivf_topk_int8 over the trained centroids: the
    full k-means replay, assignment, int8 compression and serve as one
    chained query. p8 is AS MATERIALIZED — its v8 list expression is
    referenced per-component by the dot products, and DuckDB's default
    CTE inlining would substitute the 64-element quantization into
    every reference (the 24-plane banded-oracle lesson)."""
    ctes, prev = _duck_kmeans_ctes(n_centroids, iters, table, train_filter)
    ctes.append(_duck_asgn_cte(prev))
    scale = _scale_sql("qv")
    ctes.append(
        f"p8a AS MATERIALIZED (SELECT vec_id, cent_id, qv, "
        f"({scale}) AS scale FROM asgn)"
    )
    ctes.append(
        f"p8 AS MATERIALIZED (SELECT vec_id, cent_id, scale, "
        f"{_v8_sql('qv', 'scale')} AS v8 FROM p8a)"
    )
    return _duck_with(
        ctes, duck_serve_int8_sql("p8", prev, n_queries, k, n_probes)
    )


# --------------------------------------------------------------------------
# Product-quantized postings
# --------------------------------------------------------------------------
# PQ on top of the int8 SQ artifact family: split each 64-dim quantized
# vector into M_SUB subvectors and learn a K_CODES-entry codebook per
# subspace (Lloyd's, the same exact-integer arithmetic as the IVF
# training); a vector is then M_SUB code bytes — 8 bytes/vector vs the
# int8 artifact's 64+8, the storage step that makes a 100 TB embedding
# index RAM-resident. Serving is the standard ADC shape on the one IVF
# probe-and-scan kernel (_probe_scan): per query, a driver-built LUT of
# (sub, code) → partial dot (M_SUB·K_CODES ints in the kernel's
# closure), and each candidate scores as the sum of its M_SUB LUT
# entries. The DuckDB oracle replays training, encoding and serving
# symbolically and the final ranking hash-matches. Plain PQ trains its
# codebooks on the vectors, residual PQ on qv − assigned centroid.

M_SUB = 8
SUB_DIMS = DIMS // M_SUB
K_CODES = 16
PQ_ITERS = 2

CODEBOOK_SCHEMA = "sub int, code int, cw array<long>"


def _codebook_rows(cb) -> list:
    """(M, K, S) codebook → [(sub, code, [S ints]), ...]."""
    return [
        (m, kk, cw.tolist()) for m in range(len(cb))
        for kk, cw in enumerate(cb[m])
    ]


def _codebook_array(rows: list):
    """[(sub, code, [S ints]), ...] → (M, K, S) int64 codebook."""
    import numpy as np

    cb = np.zeros((
        max(r[0] for r in rows) + 1, max(r[1] for r in rows) + 1,
        len(rows[0][2]),
    ), dtype=np.int64)
    for m, kk, cw in rows:
        cb[m, kk] = cw
    return cb


def pq_train_codebook_rows(
    emb: DataFrame, m_sub: int = M_SUB, k_codes: int = K_CODES,
    iters: int = PQ_ITERS,
) -> list:
    """Per-subspace Lloyd's: _lloyd with M groups of DIMS/M dimensions
    over the quantized vectors, seed codebook m = the m-th subvector of
    the first K quantized vectors. Returns [(sub, code, [SUB_DIMS
    ints]), ...]."""
    _, cb, _ = _lloyd(
        emb.select("vec_id", "embedding"), _quantized, k_codes, m_sub, iters
    )
    return _codebook_rows(cb)


def pq_train_codebook_rows_residual(
    assigned: DataFrame, centroid_rows: list,
    m_sub: int = M_SUB, k_codes: int = K_CODES, iters: int = PQ_ITERS,
) -> list:
    """pq_train_codebook_rows over IVF RESIDUALS: the codebook is
    trained on (qv − assigned centroid),
    the quantity PQ actually has to represent once the coarse quantizer
    carries the vector's location — standard IVF-PQ. Residuals are
    int64 differences of already-quantized values, so the exact-integer
    replay discipline extends unchanged; seeds are the residuals of the
    first K vec_ids (matching the oracle's ``WHERE vec_id < K`` over
    the residual CTE). Input: ``assigned`` [vec_id, qv, cent_id] (one
    assignment pass, shared with encoding). Returns the same
    [(sub, code, [SUB_DIMS ints]), ...] shape."""
    _, cb, _ = _lloyd(
        assigned.select("vec_id", "qv", "cent_id"),
        _residuals(centroid_rows), k_codes, m_sub, iters,
    )
    return _codebook_rows(cb)


def _residuals(centroid_rows: list):
    """Arrow batch [qv, cent_id] → (N, D) int64 residuals qv − centroid
    of cent_id."""
    import numpy as np

    cent_ids, cm = _centroid_arrays(centroid_rows)

    def residuals(b):
        return _bits.np_list_matrix(b.column("qv"), DIMS) - cm[
            np.searchsorted(cent_ids, b.column("cent_id").to_numpy())
        ]

    return residuals


def pq_encode(
    assigned: DataFrame, codebook_rows: list,
    centroid_rows: list | None = None,
) -> DataFrame:
    """Encode IVF postings [vec_id, qv, cent_id] to PQ codes:
    [vec_id, cent_id, codes array<tinyint>] — M_SUB bytes per vector.
    Same Arrow kernel arithmetic as training (argmax 2x·c − |c|², ties
    to the lowest code), so the oracle's encode CTE matches bit-exactly.
    With ``centroid_rows``, encodes the RESIDUAL (qv − assigned
    centroid) instead — standard IVF-PQ practice: residuals concentrate
    the codes' dynamic range; the codebook must then come from
    pq_train_codebook_rows_residual."""
    import numpy as np

    cb = _codebook_array(codebook_rows)
    matrix = (
        _residuals(centroid_rows) if centroid_rows is not None
        else lambda b: _bits.np_list_matrix(b.column("qv"), DIMS)
    )

    def kernel(batches):
        for b in batches:
            if not b.num_rows:
                continue
            yield pa.RecordBatch.from_pydict({
                "vec_id": b.column("vec_id"),
                "cent_id": b.column("cent_id"),
                "codes": _bits.arrow_list_column(
                    _nearest_codes(matrix(b), cb).astype(np.int8)
                ),
            })

    return assigned.select(
        "vec_id", "qv", F.col("cent_id").cast("long")
    ).mapInArrow(
        kernel, schema="vec_id long, cent_id long, codes array<tinyint>"
    )


def pq_serve_topk(
    codes_df: DataFrame, cents: DataFrame, codebook: DataFrame,
    queries_qz: DataFrame, k: int = 10, n_probes: int = N_PROBES,
    plus_centroid_dot: bool = False,
) -> DataFrame:
    """ADC serve over PQ postings [vec_id, cent_id, codes].
    ``queries_qz``: [query_id, qe] full-precision quantized queries
    (asymmetric distance — standard PQ practice: only the CANDIDATES
    are compressed). _probe_scan with probes picked by the exact
    query×centroid dot; the driver builds an (R, M, K) int64 LUT of
    query-subvector × codeword dots (sub_dims from the codebook) and
    each candidate's approximate dot is the sum over m of LUT[r, m,
    codes[m]]. ``plus_centroid_dot``: RESIDUAL codes — each candidate's
    score adds its list's exact query×centroid dot (dot(q, v̂) = dot(q,
    c) + dot(q, r̂)), which the probe pick already computed. Output:
    [query_id, vec_id, adot, rank]."""
    import numpy as np

    qids, qe = _query_matrix(queries_qz.select("query_id", "qe"))
    cb = _codebook_array(codebook.select("sub", "code", "cw").collect())
    m_sub, _, sub_dims = cb.shape
    lut = np.einsum(
        "rms,mks->rmk", qe.reshape(len(qe), m_sub, sub_dims), cb
    )  # (R, M, K)

    def adot(b, ldot):
        codes = _bits.np_list_matrix(b.column("codes"), m_sub)
        s = lut[:, np.arange(m_sub), codes.astype(np.intp)].sum(axis=2).T
        return s + ldot if plus_centroid_dot else s

    return _probe_scan(
        codes_df, cents, qids, qe, ("codes",), adot, "adot", k, n_probes
    )


def query_rows(emb: DataFrame, n_queries: int = 5) -> DataFrame:
    """The quantized query rows [query_id, qe] of vec_id < n_queries."""
    return emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.expr(quantize_expr()).alias("qe"),
    )


def _ivf_topk_pq(
    emb: DataFrame, centroid_rows: list, codebook_rows: list,
    n_queries: int, k: int, n_probes: int, residual: bool,
) -> DataFrame:
    """kernel_assign → pq_encode (of the residual when ``residual``) →
    pq_serve_topk (adding the centroid dot back when ``residual``)."""
    spark = emb.sparkSession
    codes = pq_encode(
        kernel_assign(emb, centroid_rows), codebook_rows,
        centroid_rows if residual else None,
    )
    return pq_serve_topk(
        codes, centroid_frame(spark, centroid_rows),
        spark.createDataFrame(codebook_rows, CODEBOOK_SCHEMA),
        query_rows(emb, n_queries), k, n_probes,
        plus_centroid_dot=residual,
    )


def ivf_topk_pq(
    emb: DataFrame, centroid_rows: list, codebook_rows: list,
    n_queries: int = 5, k: int = 10, n_probes: int = N_PROBES,
) -> DataFrame:
    """assign → PQ-encode → ADC serve (no durable artifact — the
    postings entry adds the parquet write/read split)."""
    return _ivf_topk_pq(
        emb, centroid_rows, codebook_rows, n_queries, k, n_probes, False
    )


def ivf_topk_pq_residual(
    emb: DataFrame, centroid_rows: list, codebook_rows: list,
    n_queries: int = 5, k: int = 10, n_probes: int = N_PROBES,
) -> DataFrame:
    """assign → RESIDUAL-PQ encode → ADC serve with the centroid dot
    added back (the standard IVF-PQ serve identity dot(q, v̂) =
    dot(q, c) + dot(q, r̂)). ``codebook_rows`` must come from
    pq_train_codebook_rows_residual over the same centroids."""
    return _ivf_topk_pq(
        emb, centroid_rows, codebook_rows, n_queries, k, n_probes, True
    )


def pq_topk_rerank(
    emb: DataFrame, centroid_rows: list, codebook_rows: list,
    n_queries: int = 5, k: int = 10, n_probes: int = N_PROBES,
    shortlist: int = 100,
) -> DataFrame:
    """The production PQ serve: ADC shortlist (top ``shortlist`` by the
    8-byte-code approximate dot) → EXACT re-rank of the shortlist on
    full-precision vectors → top-k. Re-ranking is ``n_queries ×
    shortlist`` point fetches from the vector table (an equi-join on
    vec_id — at 100 TB, the SSD fetch every PQ system pays), and it
    recovers the recall the 8-byte codes alone give up: measured at the
    gate setting, pure-PQ 19/50 → re-ranked 44/50, identical to the
    FULL-PRECISION IVF at the same probe count (the probes=2 ceiling).
    Output: [query_id, vec_id, dot, rank] — exact dots."""
    from pyspark.sql import Window

    qz = emb.select("vec_id", F.expr(quantize_expr()).alias("qv"))
    sl = ivf_topk_pq(
        emb, centroid_rows, codebook_rows, n_queries, shortlist, n_probes
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("vec_id")
    )
    return (
        sl.select("query_id", "vec_id")
        .join(qz, "vec_id")
        .join(F.broadcast(query_rows(emb, n_queries)), "query_id")
        .select(
            "query_id", "vec_id",
            F.expr(qdot_sql("qe", "qv")).alias("dot"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def duck_trained_ivf_pq_rerank_sql(
    n_queries: int = 5, k: int = 10,
    n_centroids: int = N_CENTROIDS, n_probes: int = N_PROBES,
    iters: int = 3, table: str = "embeddings",
    shortlist: int = 100,
) -> str:
    """Oracle twin of pq_topk_rerank: the full PQ replay at
    k=shortlist, then an exact-dot re-rank of the shortlist."""
    pq = duck_trained_ivf_pq_sql(
        n_queries, shortlist, n_centroids, n_probes, iters, table
    )
    return f"""(
      WITH qz2 AS (SELECT vec_id, {_duck_qlist('embedding')} AS qv
                   FROM {table}),
           sl AS (SELECT query_id, vec_id FROM {pq} _s)
      SELECT query_id, vec_id, dot, cast(rk as bigint) AS rank FROM (
        SELECT s.query_id, s.vec_id,
               {_duck_ldot('q.qv', 'v.qv')} AS dot,
               row_number() OVER (PARTITION BY s.query_id
                 ORDER BY {_duck_ldot('q.qv', 'v.qv')} DESC, s.vec_id ASC)
                 AS rk
        FROM sl s JOIN qz2 q ON q.vec_id = s.query_id
                  JOIN qz2 v ON v.vec_id = s.vec_id
      ) _r WHERE rk <= {k}
    )"""


def _duck_subdot(
    qv: str, sub: str, cw: str, sub_dims: int = SUB_DIMS
) -> str:
    """Σ_j qv[sub·S + j] · cw[j] — the per-subspace partial dot (1-based
    list indexing; ``sub`` may be a column reference)."""
    return "(" + " + ".join(
        f"{qv}[{sub} * {sub_dims} + {j + 1}] * {cw}[{j + 1}]"
        for j in range(sub_dims)
    ) + ")"


def _duck_cwdot(cw: str, sub_dims: int = SUB_DIMS) -> str:
    return "(" + " + ".join(
        f"{cw}[{j + 1}] * {cw}[{j + 1}]" for j in range(sub_dims)
    ) + ")"


def _duck_pq_ctes(
    m_sub: int = M_SUB, k_codes: int = K_CODES, iters: int = PQ_ITERS,
    src: str = "qz", vcol: str = "qv",
) -> tuple[list, str]:
    """Unrolled per-subspace Lloyd's replaying pq_train_codebook_rows
    exactly (expects a ``src`` CTE with [vec_id, ``vcol``] in scope —
    the plain replay trains on qz.qv, the residual replay on rz.rv):
    the training set ``pqt`` is _lloyd's (_duck_training_cte) and the
    seed codebook its first K vectors' subvectors. Returns (ctes, final
    codebook CTE name). Codebook CTEs are AS
    MATERIALIZED — their cw list expressions are referenced
    per-component by the sub-dots, and DuckDB's default CTE inlining
    would substitute the whole training chain into every reference (the
    24-plane banded-oracle lesson). sub_dims derives from m_sub — a
    hardcoded module constant here would silently mis-slice for any
    non-default m_sub."""
    sub_dims = DIMS // m_sub
    sd = _duck_subdot(f"v.{vcol}", "c.sub", "c.cw", sub_dims)
    ctes = [
        _duck_training_cte("pqt", src, f"vec_id, {vcol}", k_codes, False),
        f"cb0 AS MATERIALIZED (SELECT r.m AS sub, vec_id AS code, "
        f"list_slice({vcol}, r.m * {sub_dims} + 1, r.m * {sub_dims} + {sub_dims}) AS cw "
        f"FROM pqt CROSS JOIN range(0, {m_sub}) r(m) "
        f"WHERE vec_id < {k_codes})",
    ]
    prev = "cb0"
    for i in range(1, iters + 1):
        ctes.append(
            f"pqag{i} AS (SELECT vec_id, sub, code FROM ("
            f"SELECT v.vec_id, c.sub, c.code, "
            f"row_number() OVER (PARTITION BY v.vec_id, c.sub "
            f"ORDER BY 2 * {sd} - {_duck_cwdot('c.cw', sub_dims)} DESC, c.code ASC) "
            f"AS rn FROM pqt v CROSS JOIN {prev} c) _x WHERE rn = 1)"
        )
        ctes.append(
            f"pqmn{i} AS (SELECT sub, code, list(v ORDER BY pos) AS cw "
            f"FROM (SELECT a.sub, a.code, r.j AS pos, "
            f"cast(floor(cast(sum(v.{vcol}[a.sub * {sub_dims} + r.j + 1]) "
            f"as double) / count(*) + 0.5) as bigint) AS v "
            f"FROM pqag{i} a JOIN pqt v USING (vec_id) "
            f"CROSS JOIN range(0, {sub_dims}) r(j) "
            f"GROUP BY a.sub, a.code, r.j) _m GROUP BY sub, code)"
        )
        ctes.append(
            f"cb{i} AS MATERIALIZED (SELECT p.sub, p.code, "
            f"coalesce(m.cw, p.cw) AS cw "
            f"FROM {prev} p LEFT JOIN pqmn{i} m USING (sub, code))"
        )
        prev = f"cb{i}"
    return ctes, prev


def duck_serve_pq_sql(
    codes: str, cents: str, codebook: str, queries: str,
    k: int = 10, n_probes: int = N_PROBES,
    plus_centroid_dot: bool = False, sub_dims: int = SUB_DIMS,
) -> str:
    """Oracle twin of pq_serve_topk, as one subquery over the DuckDB
    tables or CTEs ``codes`` [vec_id, cent_id, codes], ``cents``
    [cent_id, cv], ``codebook`` [sub, code, cw] and ``queries``
    [query_id, qe]. Each hit sums its codes' LUT entries in a correlated
    subquery, so duplicate query or posting rows stay separate hits, as
    in the kernel."""
    adot = (
        "(SELECT sum(l.part) FROM lut l WHERE l.query_id = p.query_id "
        "AND l.code = a.codes[l.sub + 1])"
    )
    if plus_centroid_dot:
        adot = f"p.pdot + {adot}"
    return f"""(
      WITH probes AS (SELECT query_id, cent_id, pdot FROM (
        SELECT q.query_id, c.cent_id, {_duck_ldot('q.qe', 'c.cv')} AS pdot,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {_duck_ldot('q.qe', 'c.cv')} DESC,
                          c.cent_id ASC) AS pr
        FROM {queries} q CROSS JOIN {cents} c) _p WHERE pr <= {n_probes}),
      lut AS MATERIALIZED (SELECT DISTINCT q.query_id, c.sub, c.code,
               {_duck_subdot('q.qe', 'c.sub', 'c.cw', sub_dims)} AS part
        FROM {queries} q CROSS JOIN {codebook} c),
      hits AS (SELECT p.query_id, a.vec_id, cast({adot} as bigint) AS adot
        FROM probes p JOIN {codes} a ON a.cent_id = p.cent_id
        WHERE p.query_id != a.vec_id)
      {_duck_rank_sql("hits", "adot", k)}
    )"""


def _duck_trained_pq_sql(
    n_queries: int, k: int, n_centroids: int, n_probes: int, iters: int,
    table: str, m_sub: int, k_codes: int, pq_iters: int, residual: bool,
) -> str:
    """Full IVF k-means replay + assignment + per-subspace codebook
    training (over the residual CTE rz = qv − assigned centroid, pure
    int64, when ``residual``) + encode + duck_serve_pq_sql."""
    ctes, prev = _duck_kmeans_ctes(n_centroids, iters, table)
    ctes.append(_duck_asgn_cte(prev))
    train, enc, vcol = "qz", "asgn", "qv"
    if residual:
        rv = "[" + ", ".join(
            f"v.qv[{j + 1}] - c.cv[{j + 1}]" for j in range(DIMS)
        ) + "]"
        ctes.append(
            f"rz AS MATERIALIZED (SELECT v.vec_id, a.cent_id, {rv} AS rv "
            f"FROM qz v JOIN asgn a USING (vec_id) "
            f"JOIN {prev} c ON c.cent_id = a.cent_id)"
        )
        train, enc, vcol = "rz", "rz", "rv"
    pq_ctes, cb = _duck_pq_ctes(m_sub, k_codes, pq_iters, train, vcol)
    ctes.extend(pq_ctes)
    sub_dims = DIMS // m_sub
    sd = _duck_subdot(f"v.{vcol}", "c.sub", "c.cw", sub_dims)
    ctes.append(
        f"enc AS (SELECT vec_id, cent_id, list(code ORDER BY sub) AS codes "
        f"FROM (SELECT v.vec_id, v.cent_id, c.sub, c.code, "
        f"row_number() OVER (PARTITION BY v.vec_id, c.sub "
        f"ORDER BY 2 * {sd} - {_duck_cwdot('c.cw', sub_dims)} DESC, "
        f"c.code ASC) AS rn FROM {enc} v CROSS JOIN {cb} c) _e "
        f"WHERE rn = 1 GROUP BY vec_id, cent_id)"
    )
    ctes.append(
        f"pq_q AS (SELECT vec_id AS query_id, qv AS qe FROM qz "
        f"WHERE vec_id < {n_queries})"
    )
    return _duck_with(ctes, duck_serve_pq_sql(
        "enc", prev, cb, "pq_q", k, n_probes, residual, sub_dims
    ))


def duck_trained_ivf_pq_sql(
    n_queries: int = 5, k: int = 10,
    n_centroids: int = N_CENTROIDS, n_probes: int = N_PROBES,
    iters: int = 3, table: str = "embeddings",
    m_sub: int = M_SUB, k_codes: int = K_CODES, pq_iters: int = PQ_ITERS,
) -> str:
    """Oracle twin of the PQ postings entry and ivf_topk_pq."""
    return _duck_trained_pq_sql(
        n_queries, k, n_centroids, n_probes, iters, table,
        m_sub, k_codes, pq_iters, False,
    )


def duck_trained_ivf_pq_residual_sql(
    n_queries: int = 5, k: int = 10,
    n_centroids: int = N_CENTROIDS, n_probes: int = N_PROBES,
    iters: int = 3, table: str = "embeddings",
    m_sub: int = M_SUB, k_codes: int = K_CODES, pq_iters: int = PQ_ITERS,
) -> str:
    """Oracle twin of ivf_topk_pq_residual: the candidate list's
    query×centroid dot is added back to each ADC score."""
    return _duck_trained_pq_sql(
        n_queries, k, n_centroids, n_probes, iters, table,
        m_sub, k_codes, pq_iters, True,
    )


def kmeans_cluster_stats(
    emb: DataFrame, n_centroids: int = N_CENTROIDS, iters: int = 3,
    centroid_rows: list | None = None,
) -> DataFrame:
    """Training diagnostics: train the IVF centroids (or take the trained
    rows ``centroid_rows``), then one Arrow assignment pass in the
    Lloyd's min-distance form (argmax 2x·c − |c|², ties to the lowest
    cent_id) emitting [cent_id, d2 = |x − c|²], aggregated per cluster.
    Output: [cent_id, n_members, d2_min, d2_max] — all exact int64
    per-row stats (no big-sum columns, which would need int128 at scale
    and hash differently across engines).

    At 100 TB this is the monitoring query you run after each training
    round: one scan of the vector table, one tiny exchange keyed on
    cent_id."""
    if centroid_rows is None:
        centroid_rows, _ = train_centroid_rows(
            emb, n_centroids, iters, compute_inertia=False
        )
    cent_ids, cm = _centroid_arrays(centroid_rows)
    cnorm = (cm * cm).sum(axis=1)

    def d2(batches):
        for b in batches:
            if not b.num_rows:
                continue
            xm = _quantized(b)
            best = _argmax_dot_chunked(xm, cm, cnorm)
            r = xm - cm[best]
            yield pa.RecordBatch.from_pydict(
                {"cent_id": cent_ids[best], "d2": (r * r).sum(axis=1)}
            )

    return (
        emb.select("embedding")
        .mapInArrow(d2, schema="cent_id long, d2 long")
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("d2").alias("d2_min"),
            F.max("d2").alias("d2_max"),
        )
    )


def duck_kmeans_stats_sql(
    n_centroids: int = N_CENTROIDS, iters: int = 3,
    table: str = "embeddings",
) -> str:
    """Oracle twin of kmeans_cluster_stats: replay training, assign,
    aggregate."""
    ctes, prev = _duck_kmeans_ctes(n_centroids, iters, table)
    ctes.append(
        f"fsc AS (SELECT v.vec_id, v.qv, c.cent_id, "
        f"2 * {_duck_ldot('v.qv', 'c.cv')} - "
        f"{_duck_ldot('c.cv', 'c.cv')} AS score "
        f"FROM qz v CROSS JOIN {prev} c)"
    )
    ctes.append(
        "fasg AS (SELECT vec_id, qv, cent_id, score FROM ("
        "SELECT *, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY score DESC, cent_id ASC) AS rn FROM fsc) _x "
        "WHERE rn = 1)"
    )
    body = ",\n      ".join(ctes)
    return f"""(
      WITH {body}
      SELECT cent_id, count(*) AS n_members,
             min({_duck_ldot('qv', 'qv')} - score) AS d2_min,
             max({_duck_ldot('qv', 'qv')} - score) AS d2_max
      FROM fasg GROUP BY cent_id
    )"""


def lsh_bucket_expr(emb_col: str, seed: int, dialect: str = "spark",
                    n_planes: int = N_PLANES) -> str:
    """Sign-LSH bucket: hyperplane p's component j is ±1 drawn from
    the seeded hash stream. The draws depend only on (seed, p, j) —
    literals — so they fold to Python-side constants and the emitted
    expression is just n_planes signed sums of quantized components
    (identical text shape in both dialects)."""
    f = _q if dialect == "spark" else _duck_q
    bits = []
    for p in range(n_planes):
        terms = []
        for j in range(DIMS):
            sign = 1 if prng.py_xxhash64([seed, p * DIMS + j]) > 0 else -1
            terms.append(f"{f(emb_col, j)} * {sign}")
        dot = "(" + " + ".join(terms) + ")"
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def lsh_bucket_from_q(qarr: str, seed: int,
                      n_planes: int = N_PLANES) -> str:
    """Bucket bits over a pre-quantized array column (Spark hot path)."""
    bits = []
    for p in range(n_planes):
        terms = []
        for j in range(DIMS):
            sign = 1 if prng.py_xxhash64([seed, p * DIMS + j]) > 0 else -1
            terms.append(f"element_at({qarr}, {j + 1}) * {sign}")
        dot = "(" + " + ".join(terms) + ")"
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def lsh_near_pairs(
    emb: DataFrame, seed: int = 7, min_dot: int = 0,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Sign-LSH bucketing + exact integer-dot verification inside each
    bucket. Output: [vec_a, vec_b, dot]. Quantizes once per row, then
    bucket bits and the verification dot both index the int64 array.

    SIZE THE BUCKET SPACE TO THE CORPUS: expected candidate volume is
    ~n²/2^(n_planes+1) per sign-symmetric half, so a FIXED n_planes is
    quadratic in corpus density — at 200k vectors the 8-plane default
    (256 buckets) self-joins ~10⁸ in-bucket pairs while 16 planes
    (65,536 buckets) keeps it ~10⁵·recall-bound. Rule of thumb at
    scale: n_planes ≈ log2(n_vecs) + 2, traded against per-plane
    recall loss (each extra plane halves the chance an angled-near
    pair shares the bucket; band multiple independent bucket sets —
    as the MinHash path does — when recall matters more than cost).
    The registered gate entry keeps the 8-plane default so the oracle
    string stays static; both dialects accept the same n_planes and
    fold identical ±1 constants, so any choice stays hash-equal."""
    qz = emb.select("vec_id", F.expr(quantize_expr()).alias("qv"))
    b = qz.select(
        "vec_id", "qv",
        F.expr(lsh_bucket_from_q("qv", seed, n_planes)).alias("bucket"),
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, "bucket")
        .filter(F.expr("a.vec_id < b.vec_id"))
        .select(
            F.expr("a.vec_id").alias("vec_a"),
            F.expr("b.vec_id").alias("vec_b"),
            F.expr(qdot_sql("a.qv", "b.qv")).alias("dot"),
        )
        .filter(F.col("dot") > min_dot)
    )


def duck_lsh_near_pairs_sql(
    seed: int = 7, min_dot: int = 0, table: str = "embeddings",
    n_planes: int = N_PLANES,
) -> str:
    bucket = lsh_bucket_expr("embedding", seed, "duckdb", n_planes)
    dot = dot_sql("a.embedding", "b.embedding", "duckdb")
    return f"""(
      WITH b AS (
        SELECT vec_id, embedding, {bucket} AS bucket FROM {table}
      )
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {dot} AS dot
      FROM b a JOIN b b ON a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id AND {dot} > {min_dot}
    )"""


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (exact-integer cosine threshold)
# --------------------------------------------------------------------------

def augmented_embeddings(spark, sf_dir: str) -> DataFrame:
    """Known-answer near-dup corpus for the embeddings table (same trick
    as textops.augmented_corpus): every 10th vector gets a perturbed
    copy under vec_id+1,000,000 — component (vec_id mod 64) shifted by
    +0.125. The shift is exactly representable in binary float, so Spark
    and DuckDB produce bit-identical perturbed vectors."""
    import os

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pert = emb.filter(F.expr("vec_id % 10 = 0")).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = cast(vec_id % 64"
            " as int) THEN cast(cast(x as double) + 0.125 as float) ELSE x"
            " END)"
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(pert)


DUCK_AUG_EMB = """(
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  -- e.vec_id qualified throughout: DuckDB lateral aliases must not
  -- capture the +1000000 output alias
  SELECT e.vec_id + 1000000 AS vec_id,
         e.embedding[1:cast(e.vec_id % 64 as int)]
           || [cast(cast(e.embedding[cast(e.vec_id % 64 as int) + 1]
                as double) + 0.125 as float)]
           || e.embedding[cast(e.vec_id % 64 as int) + 2:64] AS embedding
  FROM embeddings e WHERE e.vec_id % 10 = 0
)"""


def paraphrase_embeddings(spark, sf_dir: str) -> DataFrame:
    """Embedding side of the PARAPHRASE fixture (the curation semantic
    stage): every 10th vector gets a perturbed copy
    under vec_id+2,000,000, paired with textops.paraphrase_corpus's
    reversed-token document under the same id offset. Same float-exact
    +0.125 single-component shift as augmented_embeddings — the
    'paraphrase' has a near-identical embedding (same meaning) while
    its document shares NO order-sensitive shingles with the original
    (different words, as far as every n-gram stage can see)."""
    import os

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pert = emb.filter(F.expr("vec_id % 10 = 0")).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CASE WHEN i = cast(vec_id % 64"
            " as int) THEN cast(cast(x as double) + 0.125 as float) ELSE x"
            " END)"
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(pert)


DUCK_PARA_EMB = """(
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT e.vec_id + 2000000 AS vec_id,
         e.embedding[1:cast(e.vec_id % 64 as int)]
           || [cast(cast(e.embedding[cast(e.vec_id % 64 as int) + 1]
                as double) + 0.125 as float)]
           || e.embedding[cast(e.vec_id % 64 as int) + 2:64] AS embedding
  FROM embeddings e WHERE e.vec_id % 10 = 0
)"""


def _sign_matrix(seed: int, n_planes: int = N_PLANES):
    """±1 hyperplane components, same (seed, p·DIMS+j) xxhash64 stream the
    SQL bucket expressions fold to literals."""
    import numpy as np

    s = np.empty((n_planes, DIMS), dtype=np.int64)
    for p in range(n_planes):
        for j in range(DIMS):
            s[p, j] = 1 if prng.py_xxhash64([seed, p * DIMS + j]) > 0 else -1
    return s


def quantize_bucket_norm(emb: DataFrame, seed: int,
                         n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, qv, bucket, n2) via one Arrow/numpy kernel.

    The SQL form of this projection (quantize array + 8-plane bucket +
    self-norm) collapses into a single Project whose generated Java blows
    janino's 64 KB method limit — whole-stage codegen then silently falls
    back to interpreted for the entire map stage. Above-codegen-limit
    widths dispatch to numpy per house rule: float32 → float64 cast first
    (identical to ``cast(x as double)``), then ``floor(x·10⁶ + 0.5)`` in
    float64 and pure int64 matmuls — bit-identical to the SQL/DuckDB
    expressions, which remain the oracle."""
    return _quantize_bucket_kernel(emb, [seed], n_planes, banded=False)


def quantize_bucket_norm_banded(
    emb: DataFrame, seed: int, n_planes: int = N_PLANES, bands: int = 2,
) -> DataFrame:
    """(vec_id, qv, buckets[bands], n2) — quantize_bucket_norm with B
    independent bucket sets in ONE kernel pass (band b's plane signs
    drawn from seed+b, matching lsh_bucket_expr(seed+b) literally)."""
    return _quantize_bucket_kernel(
        emb, [seed + b for b in range(bands)], n_planes, banded=True
    )


def _quantize_bucket_kernel(
    emb: DataFrame, seeds: list, n_planes: int, banded: bool
) -> DataFrame:
    """[vec_id, qv, bucket | buckets, n2]: one mapInArrow pass that
    quantizes each batch, takes one n_planes-bit sign-LSH bucket per
    plane seed, and the self-norm."""
    import numpy as np

    mats = [_sign_matrix(sd, n_planes).T for sd in seeds]  # (DIMS, planes)
    pw = 1 << np.arange(n_planes, dtype=np.int64)

    def kernel(batches):
        for b in batches:
            if not b.num_rows:
                continue
            q = _quantize_batch(b.column("embedding"))
            bks = np.stack(
                [((q @ m > 0) * pw).sum(axis=1) for m in mats], axis=1
            )  # (N, len(seeds))
            yield pa.RecordBatch.from_pydict({
                "vec_id": b.column("vec_id"),
                "qv": _bits.arrow_list_column(q),
                bkcol: _bits.arrow_list_column(bks) if banded else bks[:, 0],
                "n2": np.einsum("ij,ij->i", q, q),
            })

    bkcol = "buckets" if banded else "bucket"
    bktype = "array<long>" if banded else "long"
    return emb.select("vec_id", "embedding").mapInArrow(
        kernel,
        schema=f"vec_id long, qv array<long>, {bkcol} {bktype}, n2 long",
    )


def cosine_near_pairs(
    emb: DataFrame, tau_milli: int = 800, seed: int = 7,
    n_planes: int = N_PLANES, bands: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicates: sign-LSH bucket candidates +
    EXACT cosine-threshold verification in integer arithmetic.

    cos(a,b) ≥ τ  ⟺  dot ≥ 0 ∧ 10⁶·dot² ≥ τ_milli²·|a|²·|b|² — all
    quantities exact integers. dot² overflows int64 at SCALE=10⁶, so the
    comparison runs in decimal(38,0) (HUGEINT in the DuckDB twin); no
    float sqrt ever executes, so a boundary pair cannot flip between
    engines. Output carries the int64-safe certificate (dot, na2, nb2).

    Scale shape: one narrow quantize+bucket+norm kernel projection
    (Arrow/numpy — see quantize_bucket_norm), a self-join on the 8-bit
    bucket key with only cheap conditions (bucket equality + id order),
    ONE vectorized pairwise-dot kernel, then the decimal verify over
    plain columns. The SQL form inlined the 64-term dot expression three
    times into the join condition (alias substitution during predicate
    pushdown) and blew the 64 KB codegen limit — the whole join stage ran
    interpreted. The Arrow kernel computes the dot once per candidate and
    is itself a pushdown barrier, so the decimal filter above it stays a
    3-column comparison inside whole-stage codegen.

    RECALL vs bucket-space sizing: a single n_planes-bit bucket set
    drops any near pair whose angle flips even one plane — at sf10
    (220k vectors) 16 planes measure recall 0.748 on the planted
    near-dups. ``bands > 1`` runs B INDEPENDENT bucket sets (plane
    signs seeded seed+b, the MinHash-banding construction: recall
    1−(1−r)^B, so 4×16-plane bands ≈ 0.996 at 4× the candidate cost,
    still ~100× under the single-8-plane-space cliff). Banded shape:
    the self-join moves only skinny (vec_id, band, bucket) rows, pairs
    are deduped across bands BEFORE the arrays join back for the one
    verify kernel — a pair found by 3 bands is verified once."""
    # bucket-space sizing: same quadratic-in-density story as
    # lsh_near_pairs — size n_planes ~ log2(n_vecs) + 2 at scale
    if bands == 1:
        b = quantize_bucket_norm(emb, seed, n_planes).filter(
            F.col("n2") > 0
        )
        a, c = b.alias("a"), b.alias("b")
        cand = (
            a.join(c, "bucket")
            .filter(F.expr("a.vec_id < b.vec_id"))
            .select(
                F.expr("a.vec_id").alias("vec_a"),
                F.expr("b.vec_id").alias("vec_b"),
                F.expr("a.qv").alias("qa"),
                F.expr("b.qv").alias("qb"),
                F.expr("a.n2").alias("na2"),
                F.expr("b.n2").alias("nb2"),
            )
        )
    else:
        base = scoped_persist(quantize_bucket_norm_banded(
            emb, seed, n_planes, bands
        ).filter(F.col("n2") > 0))
        rows = base.select(
            "vec_id", F.posexplode("buckets").alias("band", "bucket")
        )
        ra, rb = rows.alias("a"), rows.alias("b")
        pair_ids = (
            ra.join(rb, ["band", "bucket"])
            .filter(F.expr("a.vec_id < b.vec_id"))
            .select(
                F.expr("a.vec_id").alias("vec_a"),
                F.expr("b.vec_id").alias("vec_b"),
            )
            .distinct()
        )
        qa = base.select(
            F.col("vec_id").alias("vec_a"),
            F.col("qv").alias("qa"), F.col("n2").alias("na2"),
        )
        qb = base.select(
            F.col("vec_id").alias("vec_b"),
            F.col("qv").alias("qb"), F.col("n2").alias("nb2"),
        )
        cand = pair_ids.join(qa, "vec_a").join(qb, "vec_b")

    return _verify_cosine_candidates(cand, tau_milli)


def _verify_cosine_candidates(cand: DataFrame, tau_milli: int) -> DataFrame:
    """Shared exact-integer verify: cand = [vec_a, vec_b, qa, qb, na2,
    nb2] → one vectorized pairwise-dot kernel, then the decimal(38,0)
    certificate filter (see cosine_near_pairs docstring for why the dot
    runs in Arrow/numpy and the comparison in decimal)."""
    import numpy as np

    def dot_kernel(batches):
        for b in batches:
            if not b.num_rows:
                continue
            qa = _bits.np_list_matrix(b.column("qa"), DIMS)
            qb = _bits.np_list_matrix(b.column("qb"), DIMS)
            yield pa.RecordBatch.from_pydict({
                "vec_a": b.column("vec_a"), "vec_b": b.column("vec_b"),
                "dot": np.einsum("ij,ij->i", qa, qb),
                "na2": b.column("na2"), "nb2": b.column("nb2"),
            })

    verified = cand.select(
        "vec_a", "vec_b", "qa", "qb", "na2", "nb2"
    ).mapInArrow(
        dot_kernel,
        schema="vec_a long, vec_b long, dot long, na2 long, nb2 long",
    )
    t2 = tau_milli * tau_milli
    keep = (
        "dot >= 0 AND "
        "cast(1000000 as decimal(38,0)) * cast(dot as decimal(38,0))"
        " * cast(dot as decimal(38,0)) >= "
        f"cast({t2} as decimal(38,0)) * cast(na2 as decimal(38,0))"
        " * cast(nb2 as decimal(38,0))"
    )
    return verified.filter(F.expr(keep))


def exact_cosine_pairs(
    emb: DataFrame, tau_milli: int = 800, seed: int = 7,
) -> DataFrame:
    """EXACT all-pairs cosine near-dup — the labeled brute-force ground
    truth the banded recall gate (emb_cosine_banded_recall) measures
    against, the same role the NLJ emb_topk_dot plays for IVF recall.
    O(n²) candidates by construction (explicit crossJoin): fixture/gate
    scale only — the scale path is cosine_near_pairs, whose banded
    recall vs THIS set is the oracle-gated dial. Identical integer
    certificate (Arrow dot + decimal(38,0) compare), so the exact and
    banded pair sets are directly comparable with no float boundary."""
    base = scoped_persist(
        quantize_bucket_norm(emb, seed, 1)
        .filter(F.col("n2") > 0).select("vec_id", "qv", "n2")
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"),
        F.col("n2").alias("na2"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"),
        F.col("n2").alias("nb2"),
    )
    cand = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    return _verify_cosine_candidates(cand, tau_milli)


def duck_exact_cosine_pairs_sql(
    tau_milli: int = 800, table: str = DUCK_AUG_EMB,
) -> str:
    """Twin of exact_cosine_pairs: all-pairs (vec_a < vec_b), same
    HUGEINT certificate, no bucketing anywhere."""
    n2 = dot_sql("embedding", "embedding", "duckdb")
    dot = dot_sql("a.embedding", "b.embedding", "duckdb")
    t2 = tau_milli * tau_milli
    return f"""(
      WITH b AS (
        SELECT vec_id, embedding, {n2} AS n2 FROM {table} _e
      )
      SELECT vec_a, vec_b FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {dot} AS dot,
               a.n2 AS na2, b.n2 AS nb2
        FROM b a JOIN b b ON a.vec_id < b.vec_id
      ) _p
      WHERE na2 > 0 AND nb2 > 0 AND dot >= 0
        AND 1000000::HUGEINT * dot::HUGEINT * dot::HUGEINT
            >= {t2}::HUGEINT * na2::HUGEINT * nb2::HUGEINT
    )"""


def duck_cosine_near_pairs_sql(
    tau_milli: int = 800, seed: int = 7, table: str = DUCK_AUG_EMB,
    n_planes: int = N_PLANES,
) -> str:
    bucket = lsh_bucket_expr("embedding", seed, "duckdb", n_planes)
    n2 = dot_sql("embedding", "embedding", "duckdb")
    dot = dot_sql("a.embedding", "b.embedding", "duckdb")
    t2 = tau_milli * tau_milli
    return f"""(
      WITH b AS (
        SELECT vec_id, embedding, {bucket} AS bucket, {n2} AS n2
        FROM {table} _e
      )
      SELECT vec_a, vec_b, dot, na2, nb2 FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {dot} AS dot,
               a.n2 AS na2, b.n2 AS nb2
        FROM b a JOIN b b ON a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id
      ) _p
      WHERE dot >= 0 AND na2 > 0 AND nb2 > 0
        AND 1000000::HUGEINT * dot::HUGEINT * dot::HUGEINT
            >= {t2}::HUGEINT * na2::HUGEINT * nb2::HUGEINT
    )"""


def duck_cosine_near_pairs_banded_sql(
    tau_milli: int = 800, seed: int = 7, table: str = DUCK_AUG_EMB,
    n_planes: int = N_PLANES, bands: int = 2,
) -> str:
    """Twin of cosine_near_pairs(bands > 1): B independent bucket sets
    (plane signs seeded seed+b), candidates deduped across bands, one
    exact-HUGEINT verify.

    The CTEs are MATERIALIZED: DuckDB inlines plain CTEs by
    substitution (the repo's documented landmine), so the
    bands × n_planes × DIMS bucket expression was re-expanded into
    both join sides and the DISTINCT — at n_planes=24 the sf1 oracle
    (22k vectors) ran 228 s and then failed allocation; materialized
    it runs in 9 s."""
    n2 = dot_sql("embedding", "embedding", "duckdb")
    dot = dot_sql("a.embedding", "b.embedding", "duckdb")
    t2 = tau_milli * tau_milli
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"{lsh_bucket_expr('embedding', seed + b, 'duckdb', n_planes)}"
        f" AS bucket FROM base"
        for b in range(bands)
    )
    return f"""(
      WITH base AS MATERIALIZED (
        SELECT vec_id, embedding, {n2} AS n2 FROM {table} _e
      ), rows_ AS MATERIALIZED ({band_rows}),
      pair_ids AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM rows_ a JOIN rows_ b
          ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id
      )
      SELECT vec_a, vec_b, dot, na2, nb2 FROM (
        SELECT p.vec_a, p.vec_b, {dot} AS dot, a.n2 AS na2, b.n2 AS nb2
        FROM pair_ids p
        JOIN base a ON a.vec_id = p.vec_a
        JOIN base b ON b.vec_id = p.vec_b
      ) _p
      WHERE dot >= 0 AND na2 > 0 AND nb2 > 0
        AND 1000000::HUGEINT * dot::HUGEINT * dot::HUGEINT
            >= {t2}::HUGEINT * na2::HUGEINT * nb2::HUGEINT
    )"""


# --------------------------------------------------------------------------
# Cluster-restricted semantic dedup (SemDeDup-shaped):
# k-means partitions the embedding space, near-dup candidates are
# intra-cluster pairs only — the published scale recipe for semantic
# dedup over web-scale corpora (Abbas et al., "SemDeDup", 2023): the
# candidate set shrinks from n²/2 to Σ|cluster|²/2 ≈ n²/(2C), and every
# cluster's pair join is independent, so the work is embarrassingly
# parallel across cluster ids.
# --------------------------------------------------------------------------

def centroids_for_count(
    n_vecs: int, target_cluster: int = 256, min_centroids: int = 8,
) -> int:
    """Cluster-count sizing rule for the SemDeDup restriction: C ≈
    n / target_cluster (power of two) holds the expected cluster SIZE
    fixed as the corpus grows, so in-cluster pairwise work stays
    n·K/2 — LINEAR in n — and each applyInArrow group's K×K dot
    block stays a bounded working set. A √n-sized C balances the raw
    FLOP terms (n·C assignment vs n²/(2C) candidates, both n^1.5) but
    lets the per-decade candidate count grow ~3× faster than the
    corpus; fixed-K is the rule that survives the next decade. Same
    family as planes_for_count / buckets_for_pop: size the
    partitioning dial to the corpus, never ship a constant that
    silently goes quadratic."""
    import math

    if n_vecs <= target_cluster:
        return min_centroids
    return max(
        min_centroids, 2 ** round(math.log2(n_vecs / target_cluster))
    )


def kernel_assign(emb: DataFrame, centroid_rows: list) -> DataFrame:
    """One-pass Arrow assignment: quantize + blocked int64 matmul
    argmax + self-norm per batch → [vec_id, cent_id, qv, n2]: each
    vector's max-dot centroid, ties to the lowest cent_id (np.argmax
    keeps the first maximum; _duck_asgn_cte is the DuckDB twin). It
    emits n rows and never pairs the vectors with the centroid table,
    so it stays linear when C is corpus-sized (√n at the third
    decade). Every Spark IVF list assignment goes through it."""
    cent_ids, cm = _centroid_arrays(centroid_rows)

    def assign_kernel(batches):
        for b in batches:
            if not b.num_rows:
                continue
            xm = _quantize_batch(b.column("embedding"))  # (N, D)
            yield _assign_batch(
                b, cent_ids[_argmax_dot_chunked(xm, cm)], xm
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        assign_kernel, schema=_ASSIGN_SCHEMA
    )


_ASSIGN_SCHEMA = "vec_id long, cent_id long, qv array<long>, n2 long"


def _assign_batch(b, cent_id, xm):
    """An assignment batch [vec_id, cent_id, qv, n2] (_ASSIGN_SCHEMA)."""
    return pa.RecordBatch.from_pydict({
        "vec_id": b.column("vec_id"),
        "cent_id": cent_id,
        "qv": _bits.arrow_list_column(xm),
        "n2": (xm * xm).sum(axis=1),
    })


def semantic_cluster_pairs(
    emb: DataFrame, tau_milli: int = 800,
    n_centroids: int = N_CENTROIDS, iters: int = 2,
    cap: int | None = None, seed_by_rank: bool | None = None,
    train_mod: int | None = None,
) -> DataFrame:
    """Semantic near-dup pairs under the SemDeDup cluster restriction:
    train C coarse centroids (the exact-integer Lloyd's of the IVF
    stack), assign every vector to its argmax-dot list, then verify the
    exact integer cosine certificate on INTRA-CLUSTER pairs only.

    OPERATOR GUIDANCE: for any corpus beyond toy scale, SET
    ``train_mod`` — sampled training with exact
    assignment is the production default for the exact rung (measured
    same-day decade 6.86× vs 16.52× flat-trained at 99.5% of flat's
    pairs, identical sf10 pair sets; the registered
    ``dedup_semantic_semdedup_sampled`` entry is this config).
    ``train_mod=None`` (Lloyd's over up to MAX_POINTS_PER_CODE·C
    vectors: every vector once centroids_for_count sizes C) is kept as
    the LABELED BASELINE only — the emb_topk_dot convention — because
    its n·C training term is quadratic-class at corpus scale.

    Differs from cosine_near_pairs (sign-LSH buckets) in recall shape:
    LSH buckets drop near pairs probabilistically per plane; the
    cluster restriction drops exactly the pairs whose members quantize
    to different Voronoi cells — the SemDeDup trade, bounded by
    training quality rather than plane count. Output (identical schema
    to the LSH and exact-NLJ siblings): [vec_a, vec_b, dot, na2, nb2].

    Physical shape — the part that makes SemDeDup a SCALE recipe: each
    vector ships ONCE to its cluster's partition (one exchange of n
    skinny rows keyed on cent_id), and the within-cluster pairwise
    similarity is a DENSE K×K int64 matmul inside an applyInArrow
    kernel that emits only pairs passing a float64 pre-filter with a
    1e-9 slack margin (a guaranteed superset: magnitudes ≤ 4.4e32,
    float64 relative error 2.2e-16 ≪ the margin). The exact
    decimal(38,0) certificate above the kernel is the DECIDER — the
    same filter as _verify_cosine_candidates, so a boundary pair
    cannot flip between engines. A first-cut shape that equi-joined
    array-carrying candidate ROWS on cent_id was rejected before
    measurement: n²/(2C) pairs × ~1 KB of genome-sized arrays is
    1.4e9 rows at the third decade even at √n-sized C — the dense
    block never materializes pairs that fail.

    At 100 TB: one training collect (a bounded sample), one Arrow assignment
    kernel (n rows out, never the n·C crossJoin), ONE cent_id
    exchange, n·K/2 in-cluster dot evaluations all inside numpy. Size
    C with centroids_for_count (fixed target cluster size K → C grows
    linearly with the corpus, work stays n·K/2); ``cap`` is the skew
    bound — clusters over cap rows decompose into block-pair groups
    with IDENTICAL output (see _cluster_pairs_from_assign), so a hot
    Voronoi cell can never serialize a straggler sweep. The registered
    gate entries keep C static so the oracle's training replay stays
    static (the emb_ivf convention); cap is physical-only and absent
    from the oracle.

    ``train_mod`` (keeps the exact FALLBACK rung's training linear):
    Lloyd's trains on the deterministic
    slice ``vec_id % train_mod == 0`` (rank seeds implied, so seeds
    stay well-defined on the sparse id set; an explicit
    ``seed_by_rank=False`` is overridden with a warning, and the
    default ``None`` means dense-id seeds without ``train_mod``) while
    ASSIGNMENT stays the exact argmax over every vector — the rung's
    point. This kills the
    flat-training half of the n·C quadratic term (training becomes
    (n/train_mod)·C; pick train_mod ≈ n/262k for a fixed-size slice)
    and, unlike the fast rung's two-level probe, costs ZERO assignment
    approximation: every vector still scores all C centroids, so the
    only recall exposure is training quality. The modulus is a fixed
    literal, so the DuckDB twin replays it symbolically via
    ``train_filter`` — the sampled config stays hash-checkable
    (duck_semantic_cluster_pairs_sql(train_filter=...)), unlike the
    fast rung's in-driver coarse k-means."""
    train = emb
    if train_mod is not None:
        if seed_by_rank is False:
            # loud, not silent: dense-id seeding is
            # ill-defined on the sparse sampled slice, so train_mod
            # REQUIRES rank seeds — an explicit False is a caller bug
            import warnings

            warnings.warn(
                "semantic_cluster_pairs: train_mod forces "
                "seed_by_rank=True (dense-id seeds are undefined on "
                "the sampled slice); the explicit seed_by_rank=False "
                "was overridden",
                stacklevel=2,
            )
        train = emb.filter(F.col("vec_id") % train_mod == 0)
        seed_by_rank = True
    rows, _ = train_centroid_rows(
        train, n_centroids, iters, compute_inertia=False,
        seed_by_rank=bool(seed_by_rank),
    )
    base = kernel_assign(emb, rows).filter(F.col("n2") > 0)
    return _cluster_pairs_from_assign(base, tau_milli, cap=cap)


_PAIR_SCHEMA = "vec_a long, vec_b long, dot long, na2 long, nb2 long"
_PAIR_COLS = ("vec_a", "vec_b", "dot", "na2", "nb2")


def _empty_pairs():
    import numpy as np

    return pa.table({c: np.empty(0, np.int64) for c in _PAIR_COLS})


def _tile_pairs(vid_a, n2_a, xf_a, vid_b=None, n2_b=None, xf_b=None,
                t2=0, tile=4096):
    """Tiled dense pair sweep between two row blocks (or the strict
    upper triangle of one block when the B side is None): float64
    pre-filter with a 1e-9 slack margin (guaranteed superset — the
    exact decimal certificate above decides), emitting an Arrow table
    [vec_a, vec_b, dot, na2, nb2] with vec_a < vec_b regardless of
    which side a member came from. Tiling keeps every pair at bounded
    memory: a monolithic K×K block is 42 GB at the measured hottest
    cluster (K=73k — k-means over near-uniform vectors leaves heavy
    Voronoi skew)."""
    import numpy as np

    same = vid_b is None
    if same:
        vid_b, n2_b, xf_b = vid_a, n2_a, xf_a
    n2f_a = n2_a.astype(np.float64)
    n2f_b = n2_b.astype(np.float64)
    parts = []
    for i0 in range(0, len(vid_a), tile):
        xi = xf_a[i0:i0 + tile]
        for j0 in range(i0 if same else 0, len(vid_b), tile):
            d = xi @ xf_b[j0:j0 + tile].T  # exact (< 2^53)
            rhs = t2 * np.outer(
                n2f_a[i0:i0 + tile], n2f_b[j0:j0 + tile]
            ) * (1.0 - 1e-9)
            keep = (d >= 0) & (1e6 * d * d >= rhs)
            if same and i0 == j0:  # diagonal tile: strict upper triangle
                keep &= ~np.tri(*d.shape, k=0, dtype=bool)
            ia, ib = np.nonzero(keep)
            if not len(ia):
                continue
            va, vb = vid_a[i0 + ia], vid_b[j0 + ib]
            na, nb = n2_a[i0 + ia], n2_b[j0 + ib]
            sw = va > vb  # cross blocks carry both orders
            parts.append(pa.table({
                "vec_a": np.where(sw, vb, va),
                "vec_b": np.where(sw, va, vb),
                "dot": d[ia, ib].astype(np.int64),
                "na2": np.where(sw, nb, na),
                "nb2": np.where(sw, na, nb),
            }))
    return pa.concat_tables(parts) if parts else _empty_pairs()


def _sorted_block(table, mask=None):
    """(vec_ids ascending, n2, qv as a float64 matrix) of an Arrow
    assignment table's rows, or of those where ``mask``."""
    import numpy as np

    if mask is not None:
        table = table.filter(pa.array(mask))
    vid = table.column("vec_id").to_numpy()
    order = np.argsort(vid)
    xm = _bits.np_list_matrix(table.column("qv"), DIMS)
    return (
        vid[order], table.column("n2").to_numpy()[order],
        xm[order].astype(np.float64),
    )


def _cluster_pairs_from_assign(
    base: DataFrame, tau_milli: int, cap: int | None = None,
) -> DataFrame:
    """Shared verify stage over an assignment frame [vec_id, cent_id,
    qv, n2]: one cent_id exchange, tiled dense blocks per cluster,
    exact decimal(38,0) certificate above a float64 pre-filter.

    ``cap`` is the SKEW BOUND: without it, one hot Voronoi cell
    serializes its whole K² sweep in a single applyInArrow group — a
    measured 30-minute straggler tile (BASELINE.md; the reference
    bounds per-reducer load the same way with its random partitioner,
    reference src/edu/illinois/ga/MapReduce.java:39-50).
    With cap set, any cluster larger than cap rows is decomposed into
    P = ⌈K/cap⌉ hash parts and its pair sweep into the P(P+1)/2
    BLOCK-PAIR groups (part i × part j, i ≤ j) — each unordered pair
    lands in exactly one group (min/max of its members' parts), so the
    OUTPUT IS IDENTICAL to the monolithic sweep (zero recall trade,
    unlike sub-splitting the cluster) while the per-task work is
    bounded at ~cap² dots and the straggler parallelizes away. Cost:
    the hot cluster's rows replicate P× across the exchange — skinny
    qv rows, linear in the hot mass, and ONLY hot clusters pay it.
    The cluster-size census is one grouped count collected at
    hot-cluster granularity (model-sized: k-means skew means FEW hot
    cells by construction)."""
    t2 = tau_milli * tau_milli

    def cluster_block(table):
        return _tile_pairs(*_sorted_block(table), t2=t2)

    def block_pair(key, table):
        bi, bj = key[1].as_py(), key[2].as_py()
        if bi == bj:
            return _tile_pairs(*_sorted_block(table), t2=t2)
        part = table.column("part").to_numpy()
        va, n2a, xfa = _sorted_block(table, part == bi)
        vb, n2b, xfb = _sorted_block(table, part == bj)
        if not len(va) or not len(vb):
            return _empty_pairs()
        return _tile_pairs(va, n2a, xfa, vb, n2b, xfb, t2=t2)

    hot = {}
    if cap is not None:
        base = scoped_persist(base)
        hot = {
            int(r["cent_id"]): -(-int(r["n"]) // cap)  # ceil division
            for r in base.groupBy("cent_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > cap).collect()
        }
    if not hot:
        cand = base.groupBy("cent_id").applyInArrow(
            cluster_block, schema=_PAIR_SCHEMA
        )
    else:
        pmap = F.create_map(*[F.lit(x) for kv in hot.items() for x in kv])
        split = base.withColumn(
            "np", F.coalesce(pmap[F.col("cent_id")], F.lit(1))
        ).withColumn(
            "part", F.pmod(F.xxhash64("vec_id"), F.col("np"))
        )
        blocks = split.select(
            "vec_id", "cent_id", "qv", "n2", "part",
            F.explode(F.expr(
                "transform(sequence(0, np - 1), q -> "
                "struct(least(part, q) AS bi, "
                "greatest(part, q) AS bj))"
            )).alias("blk"),
        ).select(
            "vec_id", "cent_id", "qv", "n2", "part",
            F.col("blk.bi").alias("bi"), F.col("blk.bj").alias("bj"),
        )
        cand = blocks.groupBy("cent_id", "bi", "bj").applyInArrow(
            block_pair, schema=_PAIR_SCHEMA,
        )
    # the exact certificate decides; the kernel's float pre-filter only
    # bounds what reaches it (identical to _verify_cosine_candidates)
    keep = (
        "dot >= 0 AND "
        "cast(1000000 as decimal(38,0)) * cast(dot as decimal(38,0))"
        " * cast(dot as decimal(38,0)) >= "
        f"cast({t2} as decimal(38,0)) * cast(na2 as decimal(38,0))"
        " * cast(nb2 as decimal(38,0))"
    )
    return cand.filter(F.expr(keep))


def duck_semantic_cluster_pairs_sql(
    tau_milli: int = 800, n_centroids: int = N_CENTROIDS,
    iters: int = 2, table: str = DUCK_AUG_EMB,
    seed_by_rank: bool = False, train_filter: str | None = None,
) -> str:
    """Twin of semantic_cluster_pairs: full symbolic Lloyd's replay
    (_duck_kmeans_ctes), the same argmax-dot assignment as
    duck_trained_ivf_sql, intra-cluster pairs, HUGEINT certificate.
    ``seed_by_rank`` mirrors the Spark flag: seeds are the C smallest
    vec_ids by RANK (required when the table is a restricted slice
    whose ids aren't dense from 0 — the curation semantic stage).
    ``train_filter`` restricts TRAINING to a slice (rank seeds implied)
    while assignment covers the full table — the streaming replay,
    where centroids come from batch 0 only."""
    ctes, prev = _duck_kmeans_ctes(
        n_centroids, iters, table,
        # `is not None`, not `or`: an explicit empty /
        # falsy train_filter must error downstream, not silently fall
        # back to the seed_by_rank branch
        train_filter=(
            train_filter if train_filter is not None
            else ("TRUE" if seed_by_rank else None)
        ),
    )
    ctes.append(_duck_asgn_cte(prev))
    ctes.append(
        f"withn2 AS (SELECT vec_id, cent_id, qv, "
        f"{_duck_ldot('qv', 'qv')} AS n2 FROM asgn)"
    )
    body = ",\n      ".join(ctes)
    dot = _duck_ldot("a.qv", "b.qv")
    t2 = tau_milli * tau_milli
    return f"""(
      WITH {body}
      SELECT vec_a, vec_b, dot, na2, nb2 FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {dot} AS dot,
               a.n2 AS na2, b.n2 AS nb2
        FROM withn2 a JOIN withn2 b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      ) _p
      WHERE na2 > 0 AND nb2 > 0 AND dot >= 0
        AND 1000000::HUGEINT * dot::HUGEINT * dot::HUGEINT
            >= {t2}::HUGEINT * na2::HUGEINT * nb2::HUGEINT
    )"""


SALT_DIVERSITY = 13  # cluster-balanced sampling stream


def cluster_balanced_sample(
    emb: DataFrame, per_cluster: int = 50,
    n_centroids: int = N_CENTROIDS, iters: int = 2, seed: int = 42,
) -> DataFrame:
    """Diversity-balanced corpus draw: k-means partitions the embedding
    space, then up to ``per_cluster`` vectors are kept per cluster,
    ranked by the seeded hash of vec_id — stratified_sample with a
    LEARNED stratum. The selection step of cluster-balanced data
    curation (the SemDeDup/DCLM family): a uniform draw over-samples
    dense regions; an equal per-cluster quota flattens the semantic
    density profile.

    Scale shape: one training collect (a bounded sample), one Arrow
    assignment kernel (n rows out, no n·C join), ONE exchange on
    cent_id + an in-partition window sort on the 64-bit hash — the
    same shape as doc_stratified_sample, with the hot-stratum salting
    mitigation documented there. Output: [vec_id, cent_id, rk]."""
    from pyspark.sql import Window

    from ..functions import bits as _bits

    rows, _ = train_centroid_rows(
        emb, n_centroids, iters, compute_inertia=False
    )
    ss = _bits.seed_salt(seed, SALT_DIVERSITY)
    h = prng.spark_hash(str(ss), "vec_id")
    w = Window.partitionBy("cent_id").orderBy("hk", "vec_id")
    return (
        kernel_assign(emb, rows)
        .select("vec_id", "cent_id", F.expr(h).alias("hk"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= per_cluster)
        .select("vec_id", "cent_id", F.col("rk").cast("bigint").alias("rk"))
    )


def duck_cluster_balanced_sample_sql(
    per_cluster: int = 50, n_centroids: int = N_CENTROIDS,
    iters: int = 2, seed: int = 42, table: str = "embeddings",
) -> str:
    """Twin of cluster_balanced_sample: symbolic Lloyd's replay + the
    argmax-dot assignment + the emulated-xxhash64 rank chain."""
    from ..functions import bits as _bits

    ctes, prev = _duck_kmeans_ctes(n_centroids, iters, table)
    ctes.append(_duck_asgn_cte(prev))
    body = ",\n      ".join(ctes)
    ss = _bits.seed_salt(seed, SALT_DIVERSITY)
    hq = prng.duck_hash_query(
        "SELECT vec_id, cent_id FROM asgn", [str(ss), "vec_id"], "__dv"
    )
    return f"""(
      WITH {body}
      SELECT vec_id, cent_id, rk FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY cent_id
                 ORDER BY __dv, vec_id) AS rk
        FROM {hq} _h
      ) _r WHERE rk <= {per_cluster}
    )"""


def semantic_cluster_pairs_fast(
    emb: DataFrame, tau_milli: int = 800,
    n_centroids: int | None = None, iters: int = 2,
    train_sample: int = 262_144, n_probe: int = 2,
    n_vecs: int | None = None, cap: int | None = 8192,
) -> DataFrame:
    """The approximate-assignment scale rung of semantic_cluster_pairs
    — what a production SemDeDup runs once flat Lloyd's goes
    quadratic (the exact rung measured 13.82×/decade at fixed-K
    sizing: training + argmax assignment are n·C = n²/K).

    ``cap`` (default 8192) is the skew bound this rung needs: sampled
    training over near-uniform vectors leaves heavy Voronoi skew, and
    uncapped, ONE hot cluster serialized a ~30-minute straggler tile
    sweep that lost 5.4× to the exact rung (BASELINE.md). The block-pair
    decomposition (_cluster_pairs_from_assign) bounds every verify
    task at ~cap² dots with byte-identical output, so the straggler
    parallelizes away instead of trading recall.

    Two approximations, both priced by the probe's planted-pair
    recall row rather than assumed:
    * SAMPLED TRAINING — Lloyd's runs on a deterministic fixed-size
      slice (vec_id % s == 0, s = ⌈n / train_sample⌉): training cost
      m·C with m FIXED is linear in n when C = n/K.
    * TWO-LEVEL ASSIGNMENT — an in-driver coarse k-means over the C
      centroid vectors themselves (R ≈ √C cells); each vector scores
      the R coarse cells, then exact argmax only among the fine
      centroids of its n_probe best cells: n·(R + n_probe·C/R)·D ≈
      n·3√C·D work instead of n·C·D. A boundary vector whose true
      fine centroid lives in an unprobed cell lands in a neighboring
      cluster — exactly the pair-recall trade the probe measures.

    The verify stage is the shared tiled exact path — once assigned,
    results carry the same integer certificate as the exact rung.
    Asymptotics stay n^1.5/const via the √C per-vector term (honest:
    exhaustive learned-clustering assignment cannot be O(1)/vector);
    the constants move the measured decades from 13.82× to the
    probe's row. Not oracle-registered: the sampled/two-level model
    is a different (documented) config of the operator, quality-gated
    by plant recall instead of hash equality."""
    import math

    import numpy as np

    if n_vecs is None:
        n_vecs = emb.count()
    c = n_centroids or centroids_for_count(n_vecs)
    s = max(1, math.ceil(n_vecs / train_sample))
    rows, _ = train_centroid_rows(
        emb.filter(F.col("vec_id") % s == 0), c, iters,
        compute_inertia=False, seed_by_rank=True,
    )
    cent_ids, cm = _centroid_arrays(rows)

    # in-driver coarse k-means over the C centroid vectors (min-dist
    # form, seeds = first R fine centroids) — C×R work, milliseconds
    r_cells = max(4, 2 ** round(math.log2(math.sqrt(len(cm)))))
    cmf = cm.astype(np.float64)
    cc = cmf[:r_cells].copy()
    for _ in range(3):
        sc = 2.0 * (cmf @ cc.T) - (cc * cc).sum(axis=1)
        best = np.argmax(sc, axis=1)
        for r in range(r_cells):
            m = best == r
            if m.any():
                cc[r] = cmf[m].mean(axis=0)
    # membership must be defined against the FINAL centroids in the
    # SAME min-distance geometry the probe ranking below uses: a
    # vector must not probe cells whose membership was drawn under a
    # different geometry, which silently costs pair recall
    ccnorm = (cc * cc).sum(axis=1)
    best = np.argmax(2.0 * (cmf @ cc.T) - ccnorm, axis=1)
    members = [np.nonzero(best == r)[0] for r in range(r_cells)]
    ccT = cc.T.copy()

    def assign2(batches):
        for b in batches:
            if not b.num_rows:
                continue
            xm = _quantize_batch(b.column("embedding"))
            xf = xm.astype(np.float64)
            # rank probe cells in the SAME 2·dot − |c|² form membership
            # used — raw dot ranks by a different geometry
            cells = np.argsort(
                -(2.0 * (xf @ ccT) - ccnorm), axis=1
            )[:, :n_probe]
            best_sc = np.full(len(xm), -np.inf)
            best_fine = np.zeros(len(xm), dtype=np.int64)
            for r in range(r_cells):
                mem = members[r]
                if not len(mem):
                    continue
                mask = (cells == r).any(axis=1)
                if not mask.any():
                    continue
                d = xf[mask] @ cmf[mem].T
                loc = np.argmax(d, axis=1)
                sc = d[np.arange(len(loc)), loc]
                cur = best_sc[mask]
                upd = sc > cur
                idx = np.nonzero(mask)[0][upd]
                best_sc[idx] = sc[upd]
                best_fine[idx] = mem[loc[upd]]
            # a vector whose n_probe best coarse cells are ALL empty
            # (stale cells keep their centroid) would otherwise keep
            # the -inf sentinel and silently land in fine centroid 0 —
            # fall back to the exact argmax for those rare rows
            miss = ~np.isfinite(best_sc)
            if miss.any():
                best_fine[miss] = _argmax_dot_chunked(xm[miss], cm)
            yield _assign_batch(b, cent_ids[best_fine], xm)

    base = emb.select("vec_id", "embedding").mapInArrow(
        assign2, schema=_ASSIGN_SCHEMA,
    ).filter(F.col("n2") > 0)
    return _cluster_pairs_from_assign(base, tau_milli, cap=cap)
