"""Sliding-window tournament selection W1 + pairing W2 (SURVEY.md §2.6).

Reference semantics (``reference src/edu/illinois/ga/MapReduce.java:151-273``):
each reducer streams its randomly-ordered partition through a circular
buffer of the last ``tournamentSize = 5`` rows; every step past warm-up
emits the window's best individual as a parent (``:203-214,224-232``), and
at end-of-partition the buffer "wraps around" emitting T-1 more windows
over the partition's head (``:252-272``) — so a partition of n rows yields
exactly n parents. Every 2nd parent pairs with the previous one for
crossover (``:235-243``).

Over one seeded bucket exchange (operators/shuffle), with
rn = row_number over (skey, id) within the bucket:

    ext   = rows ∪ the first min(n, T-1) rows re-positioned at rn+n
    pid   = argmax of fitness·2^31 + rn over rows between T-1 preceding
    pos   = rn - (T-1)  for rn ≥ T   (n parents when n ≥ T-1,
                                      max(0, 2n - (T-1)) below)
    pair  = pos / 2 at even pos; partner = the parent at pos - 1

The operator has two physical forms with the same keys, hence
bit-identical parents and children:

* ``breed_children`` — the reference's reducer as ONE grouped Arrow
  kernel: each bucket arrives as one Arrow table, is sorted in numpy,
  selected by ``_tournament_index``, paired, crossed over and
  evaluated, so a generation is one exchange and one Python pass.
  A bucket's genomes live in one worker at once, which is why
  plans/sga.next_generation takes it only below WIDE_PATH_BYTES.
* the skinny composition (``tournament_parent_ids`` →
  ``paired_parent_ids`` → ``pair_genomes``) — the scale form: the
  window exchange and sorts carry (id, fitness, skey, part) only, and
  the two parents' genomes attach through one skinny-build hash join
  and a role pivot, so genome bytes cross one exchange and enter no
  sort. Plan property pinned in
  tests/test_plans.py::test_tournament_shuffle_is_skinny.

``tournament_parents_pandas`` is W3, the reducer-class successor
(SURVEY.md §2.12): the same ``_tournament_index`` over whole buckets,
emitting parents instead of children.

Duplicate-id contract: ``id`` is row identity for the genome join-back.
Callers whose source can repeat ids (the lineitem fixture's duplicate
(orderkey, linenumber) keys, equal genomes by construction) pass an
id-unique [id, genome] frame as ``genome_df``; otherwise each repeated
winner id would fan out k output rows.

At scale n_buckets should be O(cores·4): both forms sort within buckets
only (no global sort), and the skinny form's wrap-around union re-reads
the bucket head — the generation loop checkpoints its input, so that is
a cached read, not a recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import bits

TOURNAMENT_SIZE = 5  # reference src/edu/illinois/ga/MapReduce.java:154

# Tournament ordering: fitness first, tie-broken by the dense per-bucket
# row number rn (< bucket size, unique within every window). Not the id:
# child ids carry the pair key in their high bits, so an id term
# outgrows 2^32 and swamps the fitness term (selection degrades to
# drift). Any fitness advantage contributes ≥ 2^31 > max rn. DuckDB's
# arg_max takes scalar keys only, hence one composed key, not a struct.
_ORD = "(fitness * 2147483648 + rn)"


def tournament_parent_ids(
    df: DataFrame, t_size: int = TOURNAMENT_SIZE
) -> DataFrame:
    """W1 skinny core: the windowed tournament over (id, fitness, skey,
    part) ONLY — genomes never enter the exchange or the sorts. Output:
    one row per parent: [part, pos, parent_id, parent_fitness]."""
    w = Window.partitionBy("part").orderBy("skey", "id")
    d = (
        df.select("id", "fitness", "skey", "part")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("part")))
    )
    head = d.filter(F.col("rn") <= t_size - 1).withColumn(
        "rn", F.col("rn") + F.col("n")
    )
    ext = d.unionByName(head)
    wf = (
        Window.partitionBy("part")
        .orderBy("rn")
        .rowsBetween(-(t_size - 1), 0)
    )
    sel = ext.select(
        "part",
        "rn",
        F.expr(f"max_by(id, {_ORD})").over(wf).alias("parent_id"),
        F.max("fitness").over(wf).alias("parent_fitness"),
    )
    return sel.filter(F.col("rn") >= t_size).select(
        "part",
        (F.col("rn") - t_size + 1).alias("pos"),
        "parent_id",
        "parent_fitness",
    )


def tournament_parents(
    df: DataFrame,
    t_size: int = TOURNAMENT_SIZE,
    genome_df: DataFrame | None = None,
) -> DataFrame:
    """W1. Input: [id, genome, fitness, skey, part]; output: one parent per
    input row: [part, pos, parent(genome array), parent_fitness].

    ``tournament_parent_ids`` runs the windows genome-free, then winners
    join their genomes back via a SHUFFLED HASH join on id, hinted with
    the skinny winner rows as the build side (a sort-merge join would
    re-sort the wide genome side; a wide-side hash build exhausts the
    heap at scale). ``genome_df`` overrides the lookup side with an
    id-unique [id, genome] frame (module doc)."""
    sel = tournament_parent_ids(df, t_size)
    g = (
        genome_df if genome_df is not None else df.select("id", "genome")
    ).withColumnsRenamed({"id": "parent_id", "genome": "parent"})
    return (
        sel.hint("shuffle_hash")
        .join(g, "parent_id")
        .select("part", "pos", "parent", "parent_fitness")
    )


def paired_parent_ids(parent_ids: DataFrame) -> DataFrame:
    """W2 skinny core: pairs consecutive parent IDS — rows at even pos
    carry (pa_id, pb_id) = (previous, current); the odd tail parent
    drops (reference pairs every 2nd selection,
    ``reference src/edu/illinois/ga/MapReduce.java:235-243``). Same
    window partitioning as W1 → no additional exchange."""
    wp = Window.partitionBy("part").orderBy("pos")
    d = parent_ids.withColumn("pa_id", F.lag("parent_id", 1).over(wp))
    return (
        d.filter(F.col("pos") % 2 == 0)
        .select(
            "part",
            ((F.col("pos") + 1) / 2).cast("bigint").alias("pair"),
            "pa_id",
            F.col("parent_id").alias("pb_id"),
        )
    )


def pair_genomes(
    pair_ids: DataFrame,
    pop: DataFrame,
    genome_df: DataFrame | None = None,
) -> DataFrame:
    """Join both parents' genomes onto the skinny pair rows:
    [part, pair, pa_id, pb_id] → [part, pair, pa, pb].

    Shape: explode each pair into two SKINNY role rows
    (part, pair, role, pid), hash-join genomes on pid with the role
    rows as the build side, then pivot the two genome rows per pair
    back to columns via map_from_entries(collect_list(...)) — an
    OBJECT HASH aggregate (hash-based, sort-fallback spill; an array
    `max` buffer would force a full sort aggregate).

    Two sequential id-joins would be worse either way: the second
    join's smaller side already carries the pa genomes, so it either
    hash-builds wide rows (heap exhaustion) or sort-merges, re-sorting
    1.5× pop of wide rows. The explode/pivot form moves the genomes
    through exactly ONE wide exchange (hashpartitioning(part, pair),
    n rows) with no wide sort anywhere.

    ``genome_df``: id-unique [id, genome] lookup override (module doc)."""
    g = genome_df if genome_df is not None else pop.select("id", "genome")
    roles = pair_ids.select(
        "part",
        "pair",
        F.explode(
            F.expr(
                "array(struct('a' as role, pa_id as pid), "
                "struct('b' as role, pb_id as pid))"
            )
        ).alias("rp"),
    ).select("part", "pair", "rp.role", "rp.pid")
    j = roles.hint("shuffle_hash").join(
        g.withColumnRenamed("id", "pid"), "pid"
    )
    return (
        j.groupBy("part", "pair")
        .agg(
            F.expr(
                "map_from_entries(collect_list(struct(role, genome)))"
            ).alias("m")
        )
        .select(
            "part", "pair",
            F.expr("m['a']").alias("pa"),
            F.expr("m['b']").alias("pb"),
        )
    )


def _tournament_index(fitness, t_size: int = TOURNAMENT_SIZE):
    """Parent rows of one bucket whose ``fitness`` is in stream order
    (skey, id): the window ending at every ext row rn ≥ T over the rows
    ∪ the first min(n, T-1) rows again, won by the largest
    (fitness, rn) — the key fitness·2^31 + rn of the window form.
    Returns max(0, n + min(n, T-1) - (T-1)) indices, in pos order."""
    import numpy as np

    n = len(fitness)
    ext = np.arange(n + min(n, t_size - 1)) % max(n, 1)
    if len(ext) < t_size:
        return ext[:0]
    win = np.lib.stride_tricks.sliding_window_view(fitness[ext], t_size)
    # argmax takes the FIRST maximum; the later stream row wins a tie
    last = t_size - 1 - win[:, ::-1].argmax(axis=1)
    return ext[np.arange(len(win)) + last]


def _bucket_parents(table, t_size: int):
    """(parent row indices in pos order, fitness) of one bucket given as
    an Arrow table with id, skey and fitness columns."""
    import numpy as np

    order = np.lexsort(
        (table.column("id").to_numpy(), table.column("skey").to_numpy())
    )
    fit = table.column("fitness").to_numpy()
    return order[_tournament_index(fit[order], t_size)], fit


def breed_children(
    sh: DataFrame, n_bits: int, seed: int | None,
    t_size: int = TOURNAMENT_SIZE,
) -> DataFrame:
    """W1 + W2 + P4 + P2 as one kernel per bucket, the reference's
    GAReducer: [id, genome, fitness, skey, part] → evaluated children
    [id, genome, fitness]. Per bucket: sort by (skey, id), pick parents
    with ``_tournament_index``, pair consecutive parents at even pos,
    cross each pair over with pair key pk = part·2^40 + pair (child ids
    pk·2 and pk·2+1, the crossover_children stream) and popcount the
    children. Genomes move as flat Arrow buffers both ways."""
    nl = bits.n_longs(n_bits)

    def breed(key, table):
        import numpy as np
        import pyarrow as pa

        win, _ = _bucket_parents(table, t_size)
        half = len(win) // 2
        pk = (key[0].as_py() << 40) + np.arange(1, half + 1, dtype=np.int64)
        g = bits.np_list_matrix(table.column("genome"), nl)
        c1, c2 = bits.np_crossover(
            g[win[0:2 * half:2]], g[win[1:2 * half:2]], seed, pk, n_bits
        )
        ch = np.concatenate([c1, c2])
        return pa.table({
            "id": np.concatenate([pk * 2, pk * 2 + 1]),
            "genome": bits.arrow_list_column(ch),
            "fitness": bits.np_popcount_rows(ch),
        })

    return (
        sh.select("id", "genome", "fitness", "skey", "part")
        .groupBy("part")
        .applyInArrow(breed, schema="id long, genome array<long>, fitness long")
    )


def tournament_parents_pandas(
    df: DataFrame, t_size: int = TOURNAMENT_SIZE
) -> DataFrame:
    """W3: ``tournament_parents`` as a stateful per-bucket kernel — the
    idiomatic successor of writing a reducer class (SURVEY.md §2.12),
    shaped like the reference's GAReducer
    (``reference src/edu/illinois/ga/MapReduce.java:151-273``). Each
    bucket is one Arrow table through ``_tournament_index``, so parents
    match the window form and its DuckDB twin row for row, buckets
    smaller than T included. Output [part, pos, parent, parent_fitness]."""

    def one_bucket(key, table):
        import numpy as np
        import pyarrow as pa

        win, fit = _bucket_parents(table, t_size)
        return pa.table({
            "part": np.full(len(win), key[0].as_py(), dtype=np.int64),
            "pos": np.arange(1, len(win) + 1, dtype=np.int64),
            # the declared array<bigint> has nullable elements
            "parent": table.column("genome").take(win).cast(
                pa.list_(pa.int64())
            ),
            "parent_fitness": fit[win],
        })

    return df.groupBy("part").applyInArrow(
        one_bucket,
        schema="part bigint, pos bigint, parent array<bigint>, parent_fitness bigint",
    )


def duck_tournament_sql(
    shuffled_sql: str, t_size: int = TOURNAMENT_SIZE
) -> str:
    """Oracle twin of tournament_parents over a relation exposing
    (id, genome, fitness, skey, part)."""
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
