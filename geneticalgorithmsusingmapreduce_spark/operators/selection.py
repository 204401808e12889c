"""Sliding-window tournament selection W1 + pairing W2 (SURVEY.md §2.6).

Reference semantics (``reference src/edu/illinois/ga/MapReduce.java:151-273``):
each reducer streams its randomly-ordered partition through a circular
buffer of the last ``tournamentSize = 5`` rows; every step past warm-up
emits the window's best individual as a parent (``:203-214,224-232``), and
at end-of-partition the buffer "wraps around" emitting T-1 more windows
over the partition's head (``:252-272``) — so a partition of n rows yields
exactly n parents. Every 2nd parent pairs with the previous one for
crossover (``:235-243``).

There is one tournament, the reducer itself: ``_walk_parents``. The
seeded buckets (operators/shuffle) arrive as ``part % P`` partitions
sorted by (part, skey, id), and the walk streams each partition's Arrow
batches through the circular buffer, carrying only a bucket's first and
last T-1 rows and its parent count between batches, so a worker holds
one batch plus O(T) rows whatever the bucket size. Each row carries its
own genome, so a population with repeated ids needs no id-unique
lookup. ``breed_children`` pairs the walk's parents, crosses and
evaluates them (a whole generation is one exchange and one Python
pass); ``tournament_parents`` (W1, and W3: the reducer-class successor,
SURVEY.md §2.12) emits the parents themselves.

The test reference is the DuckDB twin ``duck_tournament_sql``, the same
walk as window expressions, with rn = row_number over (skey, id) within
the bucket:

    ext   = rows ∪ the first min(n, T-1) rows re-positioned at rn+n
    pid   = argmax of fitness·2^31 + rn over rows between T-1 preceding
    pos   = rn - (T-1)  for rn ≥ T   (n parents when n ≥ T-1,
                                      max(0, 2n - (T-1)) below)
    pair  = pos / 2 at even pos; partner = the parent at pos - 1
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F

from ..functions import bits

TOURNAMENT_SIZE = 5  # reference src/edu/illinois/ga/MapReduce.java:154

# The DuckDB twin's tournament ordering (the walk's argmax ranks the
# same way: fitness, then the later row of the window): fitness first,
# tie-broken by the dense per-bucket row number rn (< bucket size,
# unique within every window). Not the id:
# child ids carry the pair key in their high bits, so an id term
# outgrows 2^32 and swamps the fitness term (selection degrades to
# drift). Any fitness advantage contributes ≥ 2^31 > max rn. DuckDB's
# arg_max takes scalar keys only, hence one composed key, not a struct.
_ORD = "(fitness * 2147483648 + rn)"


def _ranges(starts, lens):
    """Concatenation of arange(s, s + l) over the pairs (starts, lens)."""
    import numpy as np

    off = np.repeat(starts - np.cumsum(lens) + lens, lens)
    return off + np.arange(off.size)


def _walk_parents(batches, t_size: int = TOURNAMENT_SIZE):
    """The reference reducer over one partition's Arrow batches, sorted by
    (part, skey, id): per input batch, yields the parents whose windows
    closed in it as (part, pos, rows, fitness, take) in stream order (by
    bucket, then pos); ``take(rows)`` gathers their genomes, and holds
    only until the next batch is pulled.

    Each batch becomes a pool of the carried rows followed by its own
    rows. A bucket's stretch of the pool is its rows so far (R: the
    carried tail, then the batch's rows) and, once a later bucket or the
    end of the stream closes it, its head again (H: the carried first
    T-1 rows, or R's own prefix while the bucket is shorter than that).
    Windows end at every stretch position ≥ T-1; the carried tail is at
    most T-1 rows, so no window is emitted twice. Between batches only
    the open bucket's head, its last T-1 rows and its parent count are
    kept."""
    import numpy as np

    h = t_size - 1
    cpart = None      # the open bucket
    cg = cf = None    # its carried rows: the head (hc rows), then the tail
    hc = npar = 0     # hc = 0 until the bucket has T-1 rows
    for b in itertools.chain(batches, [None]):
        if b is None:
            if cg is None:
                return
            part = fit = np.zeros(0, dtype=np.int64)
            g = None
        elif b.num_rows == 0:
            continue
        else:
            part = b.column("part").to_numpy()
            fit = b.column("fitness").to_numpy()
            g = bits.np_list_matrix(b.column("genome"), -1)
        k = 0 if cg is None else len(cg)
        pf = fit if k == 0 else np.concatenate([cf, fit])

        def take(idx):
            """Genomes of pool rows ``idx``: carried, then the batch's."""
            if k == 0:
                return g[idx]
            if g is None:
                return cg[idx]
            out = np.empty((len(idx), cg.shape[1]), dtype=np.int64)
            m = idx < k
            out[m] = cg[idx[m]]
            out[~m] = g[idx[~m] - k]
            return out

        st = np.flatnonzero(np.diff(part)) + 1
        starts = np.concatenate([[0], st]) if len(part) else st
        lens = np.diff(np.concatenate([starts, [len(part)]]))
        seg_part, r_start, base = part[starts], starts + k, np.zeros_like(lens)
        if cg is not None:
            if len(part) == 0 or part[0] != cpart:
                # the open bucket closes before this batch's first row
                seg_part = np.concatenate([[cpart], seg_part])
                r_start = np.concatenate([[hc], r_start])
                lens = np.concatenate([[0], lens])
                base = np.concatenate([[0], base])
            r_start[0], base[0] = hc, npar
            lens[0] += k - hc
        h_start, h_len = r_start.copy(), np.minimum(h, lens)
        if hc:
            h_start[0], h_len[0] = 0, hc
        if b is not None:
            h_len[-1] = 0  # the last bucket stays open
        seg_len = lens + h_len
        ext = _ranges(
            np.stack([r_start, h_start], 1).ravel(),
            np.stack([lens, h_len], 1).ravel(),
        )
        seg = np.repeat(np.arange(len(seg_len)), seg_len)
        w = np.flatnonzero(seg[h:] == seg[:max(len(ext) - h, 0)])
        if len(w):
            win = np.lib.stride_tricks.sliding_window_view(pf[ext], t_size)
            # argmax takes the FIRST maximum; the later stream row wins a tie
            src = ext[w + h - win[w, ::-1].argmax(axis=1)]
            s = seg[w]
            pos = base[s] + w - (np.cumsum(seg_len) - seg_len)[s] + 1
            yield seg_part[s], pos, src, pf[src], take
        if b is None:
            return
        rs, rl = r_start[-1], lens[-1]
        if hc and len(lens) == 1:
            head = np.arange(hc)  # the carried bucket is still open
        else:
            head = np.arange(rs, rs + h) if rl >= h else np.arange(0)
        keep = np.concatenate([head, np.arange(rs + max(rl - h, 0), rs + rl)])
        cpart, hc = seg_part[-1], len(head)
        cg, cf = take(keep), pf[keep]
        npar = base[-1] + max(rl - h, 0)


def _paired(parents, chunk: int):
    """W2 over the walk's parent stream: (pk, pa, pb) for every parent at
    even pos and the one before it, pk = part·2^40 + pos/2, in chunks of
    at most ``chunk`` pairs. A parent at odd pos that ends a walk
    step is carried for the next; a bucket's odd tail parent drops
    (reference pairs every 2nd selection,
    ``reference src/edu/illinois/ga/MapReduce.java:235-243``)."""
    import numpy as np

    odd = None
    for part, pos, src, _, take in parents:
        ev = np.flatnonzero(pos % 2 == 0)
        pk = (part[ev] << 40) + pos[ev] // 2
        for lo in range(0, len(ev), chunk):
            e = ev[lo:lo + chunk]
            pa = take(src[e - 1])
            if e[0] == 0:
                pa[0] = odd
            yield pk[lo:lo + chunk], pa, take(src[e])
        odd = take(src[-1:])[0] if pos[-1] % 2 else None


def _bucket_stream(df: DataFrame, kernel, schema: str, n_buckets):
    """``kernel`` over the buckets as ``part % P`` partitions sorted by
    (part, skey, id). P is the session's shuffle partitions, capped at
    ``n_buckets`` when known so no task is empty; not a partition per
    bucket, since every Python task has a fixed cost (README design
    rule 8)."""
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        df.repartitionById(
            min(p, n_buckets or p), F.col("part").cast("int")
        )
        .sortWithinPartitions("part", "skey", "id")
        .mapInArrow(kernel, schema)
    )


def _breed(batches, n_bits: int, seed: int | None, t_size: int):
    """breed_children's kernel: the walk's parents paired, crossed over
    and popcounted, one output batch per chunk of pairs."""
    import numpy as np
    import pyarrow as pa

    chunk = max(1, bits.STEP_BYTES // (8 * bits.n_longs(n_bits)))
    for pk, a, b in _paired(_walk_parents(batches, t_size), chunk):
        c1, c2 = bits.np_crossover(a, b, seed, pk, n_bits)
        ch = np.concatenate([c1, c2])
        yield pa.RecordBatch.from_pydict({
            "id": np.concatenate([pk * 2, pk * 2 + 1]),
            "genome": bits.arrow_list_column(ch),
            "fitness": bits.np_popcount_rows(ch),
        })


def breed_children(
    sh: DataFrame, n_bits: int, seed: int | None,
    t_size: int = TOURNAMENT_SIZE, n_buckets: int | None = None,
) -> DataFrame:
    """W1 + W2 + P4 + P2 as one streaming kernel, the reference's
    GAReducer: [id, genome, fitness, skey, part] → evaluated children
    [id, genome, fitness]. Parents come from ``_walk_parents``, pair at
    even pos and cross over with pair key pk = part·2^40 + pair (child
    ids pk·2 and pk·2+1); the children are popcounted in the same pass.
    Genomes move as flat Arrow buffers both ways. ``n_buckets`` caps
    the partition count (``_bucket_stream``)."""
    return _bucket_stream(
        sh.select("id", "genome", "fitness", "skey", "part"),
        lambda batches: _breed(batches, n_bits, seed, t_size),
        "id long, genome array<long>, fitness long", n_buckets,
    )


def tournament_parents(
    df: DataFrame, t_size: int = TOURNAMENT_SIZE, n_buckets: int | None = None,
) -> DataFrame:
    """W1/W3: the ``_walk_parents`` stream of ``breed_children``, emitting
    parents instead of children: [id, genome, fitness, skey, part] →
    [part, pos, parent, parent_fitness], one parent per input row (buckets
    smaller than T yield fewer, as the DuckDB twin does). ``n_buckets``
    caps the partition count (``_bucket_stream``)."""

    def parents(batches):
        import pyarrow as pa

        for part, pos, src, fit, take in _walk_parents(batches, t_size):
            yield pa.RecordBatch.from_pydict({
                "part": part, "pos": pos,
                "parent": bits.arrow_list_column(take(src)),
                "parent_fitness": fit,
            })

    return _bucket_stream(
        df.select("id", "genome", "fitness", "skey", "part"), parents,
        "part bigint, pos bigint, parent array<bigint>, parent_fitness bigint",
        n_buckets,
    )


def duck_tournament_sql(
    shuffled_sql: str, t_size: int = TOURNAMENT_SIZE
) -> str:
    """Oracle twin of tournament_parents over a relation exposing
    (id, genome, fitness, skey, part): the walk as ROWS-frame windows."""
    ord_ = _ORD
    return f"""(
      WITH _d AS (
        SELECT *, row_number() OVER (PARTITION BY part ORDER BY skey, id) AS rn,
               count(*) OVER (PARTITION BY part) AS n
        FROM {shuffled_sql} _s
      ), _ext AS (
        SELECT id, genome, fitness, skey, part, rn FROM _d
        UNION ALL
        SELECT id, genome, fitness, skey, part, rn + n AS rn
        FROM _d WHERE rn <= {t_size - 1}
      ), _sel AS (
        SELECT part, rn,
               arg_max(genome, {ord_}) OVER
                 (PARTITION BY part ORDER BY rn
                  ROWS BETWEEN {t_size - 1} PRECEDING AND CURRENT ROW) AS parent,
               max(fitness) OVER
                 (PARTITION BY part ORDER BY rn
                  ROWS BETWEEN {t_size - 1} PRECEDING AND CURRENT ROW) AS parent_fitness
        FROM _ext
      )
      SELECT part, rn - {t_size - 1} AS pos, parent, parent_fitness
      FROM _sel WHERE rn >= {t_size}
    )"""


def duck_paired_sql(parents_sql: str) -> str:
    return f"""(
      WITH _p AS (
        SELECT part, pos, parent,
               lag(parent) OVER (PARTITION BY part ORDER BY pos) AS pa
        FROM {parents_sql} _t
      )
      SELECT part, (pos + 1) // 2 AS pair, pa, parent AS pb
      FROM _p WHERE pos % 2 = 0
    )"""
