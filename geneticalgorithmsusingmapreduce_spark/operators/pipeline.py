"""End-to-end corpus curation: the LLM-training-data path composed as
ONE declarative plan — quality gate → language gate → exact-digest dedup
→ deterministic split assignment.

This is the composition story the individual operators exist for: every
facet (token count, language vote, 128-bit digest) is a column
expression in a single map-side projection, the ONLY shuffle in the
whole pipeline is the digest group-by (16-byte keys — document text
never crosses the exchange), and the split assignment is again map-only.
At 100 TB: scan → project → one exchange → project, with the gates
pushed ahead of the shuffle so rejected documents never shuffle at all.
Plan-shape pinned in tests/test_plans.py.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F

from . import split as split_ops
from ..functions import text as text_fns
from ..runtime import scoped_persist, truncated_persists
from .textops import LANGS, STOPWORDS, _count_in

_TOKS = text_fns.SPARK_TOKENS


def _ladder(fn):
    """Run ``fn`` under runtime.truncated_persists: every scoped_persist
    in its call tree (this module's rungs AND the textops internals —
    band rows, jaccard sets) checkpoint-truncates to a plan leaf instead
    of caching. Applied to the composed curation ladders and to the
    private stages that hold a rung which must truncate.

    The rung checkpoints run EAGERLY: calling a ladder executes its
    rungs, so building the DataFrame costs most of the pipeline and a
    runtime error surfaces at build time, not at the first action on
    the result. The rungs live in the entry scope, so the result stays
    computable until the entry after next is built (runtime module
    docstring). Standalone operators stay on plain persist — their
    plans are shallow enough that the re-analysis this guards against
    never happens."""
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with truncated_persists():
            return fn(*args, **kwargs)
    return wrapped


def _lang_guess_expr(dialect: str) -> str:
    toks = _TOKS if dialect == "spark" else text_fns.DUCK_TOKENS
    scores = {
        lang: _count_in(toks, STOPWORDS[lang], dialect) for lang in LANGS
    }
    best = "GREATEST(" + ", ".join(scores.values()) + ")"
    guess = "CASE "
    for lang in LANGS:
        guess += f"WHEN {scores[lang]} = {best} THEN '{lang}' "
    return guess + "END"


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 32, stride: int = 16
) -> DataFrame:
    """Overlapping token-window chunking — the standard training-prep
    step that turns documents into fixed-budget training samples.

    Map-side only: tokenization, chunk-count arithmetic, and a
    sequence+explode per document (no shuffle, no UDF). Chunk count =
    ⌈max(n − chunk, 0) / stride⌉ + 1, so every token lands in ≥ 1 chunk
    and the last window may be short — the common "keep the tail"
    policy. Output: [doc_id, chunk_id, n_chunk_tokens, chunk_text]."""
    toks = "filter(split(text, ' '), t -> t != '')"
    n_chunks = (
        f"(cast(ceil(greatest(size({toks}) - {chunk_tokens}, 0) / "
        f"{stride}.0) as int) + 1)"
    )
    return (
        docs.select(
            "doc_id",
            F.expr(f"{toks}").alias("toks"),
            F.explode(
                F.expr(f"sequence(0, {n_chunks} - 1)")
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.expr(
                f"slice(toks, chunk_id * {stride} + 1, {chunk_tokens})"
            ).alias("ctoks"),
        )
        .select(
            "doc_id", "chunk_id",
            F.expr("cast(size(ctoks) as bigint)").alias("n_chunk_tokens"),
            F.array_join("ctoks", " ").alias("chunk_text"),
        )
    )


def duck_chunk_documents_sql(
    docs_sql: str, chunk_tokens: int = 32, stride: int = 16
) -> str:
    toks = "list_filter(string_split(text, ' '), t -> t != '')"
    n_chunks = (
        f"(cast(ceil(greatest(len({toks}) - {chunk_tokens}, 0) / "
        f"{stride}.0) as int) + 1)"
    )
    return f"""(
      WITH base AS (
        SELECT doc_id, {toks} AS toks, {n_chunks} AS nc
        FROM {docs_sql} _c
      ), ex AS (
        -- per-row unnest(range(...)) mirrors Spark's explode(sequence(...))
        -- exactly; a CROSS JOIN range(0, K) constant would silently cap
        -- chunks-per-document at K for very long documents
        SELECT doc_id, toks, cast(unnest(range(0, nc)) as bigint) AS chunk_id
        FROM base
      )
      SELECT doc_id, chunk_id,
             cast(len(toks[chunk_id * {stride} + 1 :
                       chunk_id * {stride} + {chunk_tokens}]) as bigint)
               AS n_chunk_tokens,
             array_to_string(toks[chunk_id * {stride} + 1 :
                                  chunk_id * {stride} + {chunk_tokens}], ' ')
               AS chunk_text
      FROM ex
    )"""


def pack_chunks(
    chunks: DataFrame, budget_tokens: int = 256, n_shards: int = 8
) -> DataFrame:
    """Greedy sequence packing: assign chunks to fixed-token-budget bins
    (training batches) by cumulative token count.

    Packing is inherently sequential, so it runs per SHARD (doc_id mod
    n_shards): one exchange on the shard key, a running-sum window
    inside each shard, bin = ⌊(cumsum − n) / budget⌋. A global greedy
    pack would serialize on one task at 100 TB; per-shard packing keeps
    every core busy and only pads the last bin of each shard. Output:
    [shard, doc_id, chunk_id, bin_id, n_chunk_tokens]."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        chunks.withColumn("shard", F.col("doc_id") % n_shards)
        .select(
            "shard", "doc_id", "chunk_id", "n_chunk_tokens",
            F.sum("n_chunk_tokens").over(w).alias("cum"),
        )
        .select(
            "shard", "doc_id", "chunk_id",
            F.expr(
                f"cast((cum - n_chunk_tokens) div {budget_tokens} as bigint)"
            ).alias("bin_id"),
            "n_chunk_tokens",
        )
    )


def duck_pack_chunks_sql(
    chunks_sql: str, budget_tokens: int = 256, n_shards: int = 8
) -> str:
    return f"""(
      WITH c AS (
        SELECT doc_id % {n_shards} AS shard, doc_id, chunk_id,
               n_chunk_tokens
        FROM {chunks_sql} _p
      )
      SELECT shard, doc_id, chunk_id,
             cast((sum(n_chunk_tokens) OVER
                     (PARTITION BY shard ORDER BY doc_id, chunk_id
                      ROWS UNBOUNDED PRECEDING)
                   - n_chunk_tokens) // {budget_tokens} as bigint)
               AS bin_id,
             n_chunk_tokens
      FROM c
    )"""


# chunk-key packing: doc_id * 2^20 + chunk_id (< 2^20 chunks per doc —
# 16M tokens at the default stride; same packing idea as
# crossover._PAIR_KEY)
CHUNK_KEY_BASE = 1 << 20


def chunk_near_dup_pairs(
    docs: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 16,
    max_bucket: int | None = 64,
    tau_milli: int = 500,
) -> DataFrame:
    """Chunk-level NEAR-dup: MinHash→LSH→exact-Jaccard re-keyed from
    documents to chunks — finds paraphrased/lightly-edited boilerplate
    paragraphs that chunk-level EXACT dedup (dedup.dedup_exact_chunks)
    provably cannot collapse, the dominant intra-doc duplication mode
    after exact boilerplate (r7 VERDICT "What's missing" #1).

    Composition: chunk_documents (map-side explode) → pack each chunk
    under a synthetic key doc_id·2^20 + chunk_id → the UNCHANGED
    textops pipeline (shingles persisted once, k-min signatures, banded
    LSH with the hot-bucket guard threaded at its scale-safe default,
    array-intersect verify) → decode the keys back to
    (doc_a, chunk_a, doc_b, chunk_b, jaccard_milli).

    At 100 TB: chunking multiplies rows by ~n_tokens/stride but each
    chunk is tiny, so total shingle volume stays ~2× the corpus (the
    stride-2 overlap); everything downstream inherits the capped-LSH
    scale shape — the bucket self-join fans out max_bucket²/2 per
    bucket worst-case and the verify stage only ever sees candidate
    pairs."""
    from ..runtime import scoped_persist as _sp
    from . import textops as tx

    chunks = chunk_documents(docs, chunk_tokens, stride).select(
        (F.col("doc_id") * CHUNK_KEY_BASE + F.col("chunk_id")).alias(
            "doc_id"
        ),
        F.col("chunk_text").alias("text"),
    )
    shingles = _sp(tx.shingles_hashed(chunks))
    sigs = tx.minhash_signatures(chunks, shingles=shingles)
    cands = tx.lsh_candidate_pairs(sigs, max_bucket=max_bucket)
    pairs = tx.jaccard_pairs(chunks, cands, tau_milli, shingles=shingles)
    kb = CHUNK_KEY_BASE
    return pairs.select(
        F.expr(f"doc_a div {kb}").alias("doc_a"),
        F.expr(f"doc_a % {kb}").alias("chunk_a"),
        F.expr(f"doc_b div {kb}").alias("doc_b"),
        F.expr(f"doc_b % {kb}").alias("chunk_b"),
        "jaccard_milli",
    )


def duck_chunk_near_dup_sql(
    docs_sql: str,
    chunk_tokens: int = 32,
    stride: int = 16,
    max_bucket: int | None = 64,
    tau_milli: int = 500,
) -> str:
    """Oracle twin of chunk_near_dup_pairs over (doc_id, text)."""
    from . import textops as tx

    kb = CHUNK_KEY_BASE
    chunks = f"""(
      SELECT doc_id * {kb} + chunk_id AS doc_id, chunk_text AS text
      FROM {duck_chunk_documents_sql(docs_sql, chunk_tokens, stride)} _ck
    )"""
    pairs = tx.duck_jaccard_pairs_sql(
        chunks,
        tx.duck_lsh_pairs_sql(
            tx.duck_minhash_sql(chunks), max_bucket=max_bucket
        ),
        tau_milli,
    )
    return f"""(
      SELECT doc_a // {kb} AS doc_a, doc_a % {kb} AS chunk_a,
             doc_b // {kb} AS doc_b, doc_b % {kb} AS chunk_b,
             jaccard_milli
      FROM {pairs} _cnd
    )"""


def curate_corpus(
    docs: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
) -> DataFrame:
    """docs[doc_id, text] → curated [doc_id, digest, n_tokens, dup_count,
    pm, split]: keep ``lang`` documents with ≥ min_tokens tokens, one
    canonical doc (min doc_id) per exact content digest, hash-split."""
    facets = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.expr(f"cast(size({_TOKS}) as bigint)").alias("n_tokens"),
        F.expr(_lang_guess_expr("spark")).alias("lang_guess"),
    )
    gated = facets.filter(
        (F.col("lang_guess") == lang) & (F.col("n_tokens") >= min_tokens)
    )
    deduped = gated.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        # identical digest ⇒ identical text ⇒ identical facets; min() is
        # just a deterministic "any"
        F.min("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    return split_ops.assign_splits(
        deduped, key="doc_id", seed=seed, train_pm=train_pm, val_pm=val_pm
    ).select("doc_id", "digest", "n_tokens", "dup_count", "pm", "split")


def duck_curate_corpus_sql(
    docs_sql: str,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
) -> str:
    from ..functions import text as text_fns

    toks = text_fns.DUCK_TOKENS
    guess = _lang_guess_expr("duckdb")
    ded = f"""
      SELECT digest, min(doc_id) AS doc_id, min(n_tokens) AS n_tokens,
             count(*) AS dup_count
      FROM (
        SELECT doc_id, md5(text) AS digest,
               len({toks}) AS n_tokens, {guess} AS lang_guess
        FROM {docs_sql} _f
      ) _g
      WHERE lang_guess = '{lang}' AND n_tokens >= {min_tokens}
      GROUP BY digest
    """
    assigned = split_ops.duck_assign_splits_sql(
        ded, key="doc_id", seed=seed, train_pm=train_pm, val_pm=val_pm
    )
    return (
        f"(SELECT doc_id, digest, n_tokens, dup_count, pm, split "
        f"FROM {assigned} _o)"
    )


@_ladder
def curate_corpus_neardup(
    docs: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
) -> DataFrame:
    """The FULL curation pipeline: quality/language gates → exact-digest
    dedup → NEAR-dup cluster collapse (MinHash→LSH→verify→connected
    components, keeping each cluster's smallest doc_id) → deterministic
    split. Exact dedup cannot catch a document with one word changed —
    that is precisely the gap the near-dup stage closes, and
    ``nd_dropped`` reports how many near-copies each survivor absorbed.

    Scale: the gates run before anything shuffles; exact dedup exchanges
    16-byte digests; the near-dup stage touches only exact-dedup
    SURVIVORS (banded candidates, verify on candidates only); the
    cluster loop exchanges (node, label) pairs. No stage ever moves
    document text except the shingle projection.

    max_bucket is the hot-bucket skew guard threaded into the LSH
    candidate stage (textops.lsh_candidate_pairs): on a low-entropy
    corpus at the sf100 decade, the UNGUARDED candidate self-join hit
    575 billion in-bucket pairs and spilled past disk (BASELINE.md r6);
    with the guard, oversized (band, bucket) groups are skipped before
    the self-join, bounding every join task at max_bucket²/2 pairs. The
    default (64) is scale-safe because exact-digest dedup runs FIRST —
    byte-identical mass duplicates never reach the LSH stage, so a
    >64-doc bucket is hash skew, not signal — and a skipped doc still
    pairs through its other bands (zero planted-pair recall loss
    measured even at max_bucket=2, dedup_minhash_lsh_capped). Pass
    None to disable."""
    kept = _neardup_kept(docs, lang, min_tokens, max_bucket)
    return split_ops.assign_splits(
        kept, key="doc_id", seed=seed, train_pm=train_pm, val_pm=val_pm
    ).select("doc_id", "n_tokens", "dup_count", "nd_dropped", "pm", "split")


@_ladder
def _neardup_kept(
    docs: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    max_bucket: int | None = 64,
    return_shingles: bool = False,
    span_k: int | None = None,
) -> DataFrame:
    """Stages 1-3 of the curation pipeline (gates → exact-digest dedup →
    doc-level near-dup cluster collapse), shared by curate_corpus_neardup
    and the chunk-composed variants. Output: [doc_id, n_tokens,
    dup_count, nd_dropped] — the doc-level survivors, pre-split.
    ``return_shingles=True`` additionally returns the persisted
    (doc_id, sh64) shingle rows of the exact-dedup survivors, so the
    containment candidate stage can reuse them instead of re-tokenizing
    the corpus.

    ``span_k`` (r12 VERDICT "Next round" #1) inserts the repeated-span
    REMOVAL rung between the digest and MinHash stages: digest
    survivors are rewritten by dedup.repeated_span_removal (duplicated
    ≥ span_k-token spans cut, corpus-wide first occurrence kept), docs
    whose every token was duplicated drop entirely, and every later
    stage — shingles, MinHash, chunk containment, the LM — consumes
    the CUT text. The output then carries a ``span_dropped_tokens``
    credit column and ``n_tokens`` becomes the POST-cut count (the
    token count the downstream stages actually see — the containment
    stage's closed-form chunk arithmetic depends on this). Requires
    ``return_shingles=True`` (the composed pipelines need the cut docs
    frame back); returns (kept, shingles, cut_docs)."""
    from . import dedup as dedup_ops, textops as tx

    if span_k is not None and not return_shingles:
        raise ValueError("span_k requires return_shingles=True")
    facets = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.expr(f"cast(size({_TOKS}) as bigint)").alias("n_tokens"),
        F.expr(_lang_guess_expr("spark")).alias("lang_guess"),
    )
    gated = facets.filter(
        (F.col("lang_guess") == lang) & (F.col("n_tokens") >= min_tokens)
    )
    # persist: referenced by the near-dup subtree (which cluster_pairs
    # materializes eagerly via its checkpoint) AND by the final `kept`
    # join — without it the gate+digest-agg scan of docs runs twice
    survivors = gated.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    survivors = scoped_persist(survivors)
    sdocs = docs.join(survivors.select("doc_id"), "doc_id", "leftsemi")
    if span_k is not None:
        # the span rung: under the ladder's truncation policy the cut
        # text becomes a plan LEAF. A persist keeps the full logical
        # plan behind an InMemoryRelation, and treeString /
        # canonicalization expand every InMemoryTableScan's
        # innerChildren — so each of the ~30 downstream actions
        # (shingle fold, LSH, star loop, chunk stage, LM) re-printed
        # and re-analyzed the nested cut→occ→fixture pyramid, which
        # measured as ~90% driver CPU in TreeNode.generateTreeString
        # (before/after numbers in OPTIMIZATION_r13.md). Fully-cut
        # docs (span-granularity exact duplicates) drop here.
        # parallelism pin (r14, guide §2.5): both the span rung's input
        # and its checkpointed output are tiny in BYTES (the whole
        # fixture is a few MB here) but enormous in DERIVED work per
        # byte — the gram expansion, the token rewrite, and every
        # downstream shingle/chunk/LM pass are interpreted HOFs over
        # every token. AQE coalesces exchanges by byte size, so without
        # an explicit pin the digest semi-join collapses sdocs to ONE
        # post-shuffle partition and the checkpoint freezes that layout:
        # the r14 jstack showed the occ gram persist burning a single
        # core for 60+ s (storage info: 1 cached partition) while 31
        # cores idled, and every later rung inherited the serialization.
        # repartition(par, doc_id) pins the count (AQE never coalesces a
        # user-specified repartition); par = defaultParallelism is the
        # cluster's total-cores figure, not a local constant. The
        # exchange it adds carries only [doc_id, text] once — measured
        # entry build 38 s → (see OPTIMIZATION_r14.md) with the rung's
        # heavy stages fanned back out.
        par = docs.sparkSession.sparkContext.defaultParallelism
        cut = scoped_persist(
            dedup_ops.repeated_span_removal(
                sdocs.repartition(par, "doc_id"), k=span_k
            )
            .filter(F.col("n_tokens") >= 1)
            .repartition(par, "doc_id")
        )
        sdocs = cut.select("doc_id", "text")
        survivors = (
            survivors.drop("n_tokens")
            .join(
                cut.select("doc_id", "n_tokens", "span_dropped_tokens"),
                "doc_id",
            )
        )
    shingles = scoped_persist(tx.shingles_hashed(sdocs))
    sigs = tx.minhash_signatures(sdocs, shingles=shingles)
    cands = tx.lsh_candidate_pairs(sigs, max_bucket=max_bucket)
    pairs = tx.jaccard_pairs(sdocs, cands, shingles=shingles)
    # star contraction, not label propagation: same components (asserted
    # equivalent in tests), but O(log n) rounds regardless of component
    # diameter and no max_iters cliff — the right default for a pipeline
    # that can meet arbitrarily-shaped near-dup families
    clusters = dedup_ops.cluster_pairs_star(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        (F.count(F.lit(1)) - 1).alias("nd_dropped")
    ).select(F.col("cluster_id").alias("rep_id"), "nd_dropped")
    span_cols = ["span_dropped_tokens"] if span_k is not None else []
    kept = (
        survivors.join(clusters, "doc_id", "left")
        .filter("cluster_id IS NULL OR cluster_id = doc_id")
        .join(sizes, F.col("doc_id") == F.col("rep_id"), "left")
        .select(
            "doc_id", "n_tokens", "dup_count", *span_cols,
            F.coalesce("nd_dropped", F.lit(0)).alias("nd_dropped"),
        )
    )
    if span_k is not None:
        return kept, shingles, sdocs
    if return_shingles:
        return kept, shingles
    return kept


@_ladder
def curate_corpus_chunk_neardup(
    docs: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
) -> DataFrame:
    """The curation pipeline COMPOSED with chunk-level near-dup (r8
    VERDICT "Next round" #4): gates → exact-digest dedup → doc-level
    near-dup collapse → CHUNK-level near-dup over the survivors → a
    doc-level CONTAINMENT drop → split.

    Doc-level Jaccard cannot see containment: a document that is mostly
    an excerpt of a (much longer) earlier document has low whole-doc
    similarity but near-identical chunks. The chunk stage re-keys the
    capped MinHash→LSH→verify pipeline over doc_chunking output
    (chunk_near_dup_pairs); a surviving doc DROPS when ≥ chunk_drop_pm
    per-mille of its chunks near-dup chunks of ANY earlier (smaller
    doc_id) survivor. The decision is one non-cascading pass — drops
    compare against doc-level survivors, not chunk-stage survivors — so
    it stays order-free and symbolically replayable; cc_absorbed
    credits each survivor with the docs it absorbed (attributed to the
    smallest chunk-matching doc id; attribution to a doc that itself
    drops is lost, by the same single-pass rule).

    Scale: the chunk stage inherits every guard of its parts — chunks
    of survivors only, banded candidates with the hot-bucket cap,
    verify on candidates — and adds one grouped count per doc side.
    Output: [doc_id, n_tokens, dup_count, nd_dropped, cc_absorbed,
    pm, split]."""
    kept = scoped_persist(_neardup_kept(docs, lang, min_tokens, max_bucket))
    kdocs = docs.join(kept.select("doc_id"), "doc_id", "leftsemi")
    cpairs = chunk_near_dup_pairs(
        kdocs, chunk_tokens, stride, max_bucket, chunk_tau_milli
    )
    return _containment_drop(
        kept, cpairs, chunk_tokens, stride, chunk_drop_pm,
        seed, train_pm, val_pm,
    )


def _containment_drop(
    kept: DataFrame,
    cpairs_raw: DataFrame,
    chunk_tokens: int,
    stride: int,
    chunk_drop_pm: int,
    seed: int,
    train_pm: int,
    val_pm: int,
) -> DataFrame:
    """Shared tail of the chunk-composed pipelines: chunk-pair evidence →
    per-doc matched-chunk counts → closed-form chunk totals → containment
    drop → absorption attribution → split."""
    final = _containment_final(
        kept, cpairs_raw, chunk_tokens, stride, chunk_drop_pm
    )
    return split_ops.assign_splits(
        final, key="doc_id", seed=seed, train_pm=train_pm, val_pm=val_pm
    ).select(
        "doc_id", "n_tokens", "dup_count", "nd_dropped", "cc_absorbed",
        "pm", "split",
    )


def _containment_final(
    kept: DataFrame,
    cpairs_raw: DataFrame,
    chunk_tokens: int,
    stride: int,
    chunk_drop_pm: int,
    extra_cols: tuple = (),
) -> DataFrame:
    """Containment drop + absorption attribution WITHOUT the split —
    the pre-split survivor frame [doc_id, n_tokens, dup_count,
    nd_dropped, cc_absorbed] shared by _containment_drop and the
    semantic-composed pipeline (which inserts one more stage before
    splitting)."""
    cpairs = scoped_persist(
        cpairs_raw.filter(F.col("doc_a") != F.col("doc_b"))
    )
    # composite chunk keys sort (doc, chunk) lexicographically, so
    # doc_a <= doc_b always: doc_b is the LATER doc — the drop side
    matched = cpairs.groupBy("doc_b").agg(
        F.countDistinct("chunk_b").alias("mc")
    )
    # per-doc chunk count is a CLOSED FORM of n_tokens (kept already
    # carries it): ⌈max(n−chunk, 0)/stride⌉ + 1 — chunk_documents'
    # own arithmetic. Computing it by re-chunking the corpus would be
    # a second full tokenize+explode scan of 5M docs at sf100 (the
    # first sf100 attempt paid it: 11.91×; lower() in the gate
    # tokenizer doesn't change whitespace splits, so the counts agree
    # exactly — pinned in tests).
    n_chunks = kept.select(
        "doc_id",
        F.expr(
            f"cast(ceil(greatest(n_tokens - {chunk_tokens}, 0) / "
            f"{stride}.0) as int) + 1"
        ).alias("nc"),
    )
    dropped = (
        matched.join(n_chunks, matched.doc_b == n_chunks.doc_id)
        .filter(F.col("mc") * 1000 >= chunk_drop_pm * F.col("nc"))
        .select(F.col("doc_b").alias("dropped_id"))
    )
    attr = (
        cpairs.join(dropped, cpairs.doc_b == dropped.dropped_id)
        .groupBy("doc_b").agg(F.min("doc_a").alias("rep"))
        .groupBy("rep").agg(F.count(F.lit(1)).alias("cc_absorbed"))
    )
    return (
        kept.join(dropped, kept.doc_id == dropped.dropped_id, "left_anti")
        .join(attr, kept.doc_id == attr.rep, "left")
        .select(
            "doc_id", "n_tokens", "dup_count", *extra_cols, "nd_dropped",
            F.coalesce("cc_absorbed", F.lit(0)).alias("cc_absorbed"),
        )
    )


@_ladder
def curate_corpus_chunk_containment(
    docs: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
    cand_max_df: int = 50,
    cand_min_shared: int = 4,
) -> DataFrame:
    """curate_corpus_chunk_neardup with CANDIDATE-RESTRICTED chunking —
    the full-corpus scale path (r9 VERDICT "Next round" #2).

    The unrestricted composition chunks EVERY doc-stage survivor; at the
    sf100 decade that measured 14.84× because 4.74M survivors all flowed
    into chunk→shingle→minhash. But a doc can only lose chunks to an
    earlier doc it SHARES SHINGLE MASS with: a containment drop needs
    ≥ chunk_drop_pm per-mille of its chunks at chunk-Jaccard ≥
    chunk_tau_milli, which forces tens of shared doc-level trigram
    shingles in absolute count. So the chunk stage's input is restricted
    to docs that share ≥ cand_min_shared INDEXED shingles (document
    frequency ≤ cand_max_df — the ngram_jaccard_pairs inverted-index
    prunings re-applied) with at least one other survivor.

    The candidate stage REUSES the doc-shingle rows stage 3 already
    persisted (filtered to kept docs — no re-tokenization), builds
    df-capped posting lists in one shuffle, and expands ≤ cand_max_df²
    pairs per shingle. Restriction recall: a droppable doc's shared
    shingle mass is large in absolute terms (a 32-token chunk at J ≥ 0.5
    shares ≥ ~16 of its ~30 trigrams), so missing it needs nearly ALL
    shared shingles hotter than cand_max_df — pure boilerplate overlap,
    the same recall argument (and the same honesty discipline: measured,
    not assumed — tests pin restricted ≡ unrestricted on the planted
    corpus) as the hot-bucket guard. The oracle replays the restriction
    symbolically, so the gate hash is exact by construction.

    At 100 TB: stages 1-3 unchanged; the candidate stage is one
    df-capped posting-list shuffle over already-persisted shingle rows;
    the chunk stage sees the candidate set, not the corpus."""
    final = _chunk_containment_final(
        docs, lang, min_tokens, max_bucket, chunk_tokens, stride,
        chunk_tau_milli, chunk_drop_pm, cand_max_df, cand_min_shared,
    )
    return split_ops.assign_splits(
        final, key="doc_id", seed=seed, train_pm=train_pm, val_pm=val_pm
    ).select(
        "doc_id", "n_tokens", "dup_count", "nd_dropped", "cc_absorbed",
        "pm", "split",
    )


def _chunk_containment_final(
    docs: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
    cand_max_df: int = 50,
    cand_min_shared: int = 4,
    span_k: int | None = None,
) -> DataFrame:
    """Stages 1-4 of curate_corpus_chunk_containment, pre-split: gates →
    exact digest → doc near-dup → candidate-restricted chunk
    containment. Output: [doc_id, n_tokens, dup_count, nd_dropped,
    cc_absorbed] — shared by the containment entry and the
    semantic-composed pipeline. With ``span_k`` set (the span rung
    inserted after the digest, see _neardup_kept) the chunk stage runs
    over the CUT text, a span_dropped_tokens column rides along, and
    the return is (final, cut_docs)."""
    if span_k is not None:
        kept, shingles, cutdocs = _neardup_kept(
            docs, lang, min_tokens, max_bucket,
            return_shingles=True, span_k=span_k,
        )
        docs = cutdocs
    else:
        kept, shingles = _neardup_kept(
            docs, lang, min_tokens, max_bucket, return_shingles=True
        )
    kept = scoped_persist(kept)
    # shingle rows are per-OCCURRENCE; collect_set dedups doc ids per
    # shingle, so df and the per-pair shared counts are over distinct
    # (doc, shingle) — exactly the oracle's DISTINCT projection
    ksh = shingles.select("doc_id", "sh64").join(
        kept.select("doc_id"), "doc_id", "leftsemi"
    )
    postings = (
        ksh.groupBy("sh64")
        .agg(F.collect_set("doc_id").alias("ds"))
        .filter(F.size("ds").between(2, cand_max_df))
    )
    cand_pairs = (
        postings.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= cand_min_shared)
    )
    cand_docs = (
        cand_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cdocs = docs.join(cand_docs, "doc_id", "leftsemi")
    cpairs = chunk_near_dup_pairs(
        cdocs, chunk_tokens, stride, max_bucket, chunk_tau_milli
    )
    extra = ("span_dropped_tokens",) if span_k is not None else ()
    final = _containment_final(
        kept, cpairs, chunk_tokens, stride, chunk_drop_pm, extra
    )
    if span_k is not None:
        return final, docs
    return final


@_ladder
def curate_corpus_semdedup(
    docs: DataFrame,
    emb: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
    cand_max_df: int = 50,
    cand_min_shared: int = 4,
    sem_tau_milli: int = 800,
    sem_centroids: int | None = 8,
    sem_iters: int = 2,
    sem_cap: int | None = 64,
    sem_rung: str = "exact",
) -> DataFrame:
    """The DCLM-style curation pipeline with the SEMANTIC stage composed
    in (r10 VERDICT "Next round" #3): gates → exact digest → doc-level
    MinHash/LSH near-dup → candidate-restricted chunk containment →
    EMBEDDING-level SemDeDup → split.

    ``sem_rung``: "exact" (the gate config — flat Lloyd's, symbolically
    replayable, C pinned small so the oracle's training replay stays
    static) or "fast" (the AT-SCALE config: sampled training, two-level
    probe, C sized by centroids_for_count when ``sem_centroids`` is
    None, the same skew cap — the rung the decade rows measure;
    approximate assignment, so quality-gated by plant recall rather
    than hash equality, exactly the standalone operator's convention).

    Every earlier stage is order-sensitive (digests, word n-gram
    shingles): a PARAPHRASE — same meaning, disjoint shingles — sails
    through all of them and only an embedding-level stage can catch it
    (the fixture plants exactly these: reversed-token docs with
    near-identical embeddings; tests pin that stages 1-4 provably keep
    them). The stage: survivors' embeddings (vec_id = doc_id, one
    leftsemi restriction) → cluster-restricted semantic pairs
    (semantic_cluster_pairs with rank seeding — survivor ids aren't
    dense from 0 — and the ``sem_cap`` skew bound) → drop every doc
    that pairs at cosine ≥ τ with ANY smaller-id survivor. The
    decision compares against stage-4 survivors, not semantic
    survivors (the containment stage's single-pass non-cascading rule
    — order-free, symbolically replayable), and ``sd_absorbed``
    credits each keeper with the paraphrases it absorbed, attributed
    to the smallest pairing id (cc_absorbed's rule).

    Scale shape: stages 1-4 unchanged (their guards intact); the
    semantic stage adds one leftsemi (16-byte ids), one training pass,
    one cent_id exchange, and the skew-bounded tiled verify — the
    standalone SemDeDup entry's shape over the (smaller) survivor set.
    Output: [doc_id, n_tokens, dup_count, nd_dropped, cc_absorbed,
    sd_absorbed, pm, split]."""
    final2 = _semdedup_final(
        docs, emb, lang, min_tokens, max_bucket, chunk_tokens, stride,
        chunk_tau_milli, chunk_drop_pm, cand_max_df, cand_min_shared,
        sem_tau_milli, sem_centroids, sem_iters, sem_cap, sem_rung,
    )
    return split_ops.assign_splits(
        final2, key="doc_id", seed=seed, train_pm=train_pm, val_pm=val_pm
    ).select(
        "doc_id", "n_tokens", "dup_count", "nd_dropped", "cc_absorbed",
        "sd_absorbed", "pm", "split",
    )


@_ladder
def _semdedup_final(
    docs: DataFrame,
    emb: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
    cand_max_df: int = 50,
    cand_min_shared: int = 4,
    sem_tau_milli: int = 800,
    sem_centroids: int | None = 8,
    sem_iters: int = 2,
    sem_cap: int | None = 64,
    sem_rung: str = "exact",
    span_k: int | None = None,
) -> DataFrame:
    """Stages 1-5 of the curation ladder, pre-split: gates → digest →
    doc near-dup → candidate-restricted chunk containment → SemDeDup.
    Output: [doc_id, n_tokens, dup_count, nd_dropped, cc_absorbed,
    sd_absorbed] — shared by curate_corpus_semdedup and
    curate_corpus_full. With ``span_k``: the span-removal rung runs
    after the digest, span_dropped_tokens rides along, and the return
    is (final2, cut_docs) so the caller's LM stage scores CUT text."""
    from . import ann as ann_ops

    # truncate, don't just persist: the semantic stage makes several passes
    # (training-set collect, assignment, skew census, block
    # sweep) over frames derived from `final`, and the containment
    # composition's logical plan is enormous — a cached-but-untruncated
    # lineage made EVERY pass pay ~7 s of Catalyst re-analysis at sf0.1
    # (measured: semb.count() 6-8 s/pass on 1,963 cached rows).
    # Under the ladder's truncation policy scoped_persist collapses the
    # plan to a leaf; downstream planning is constant-size.
    res = _chunk_containment_final(
        docs, lang, min_tokens, max_bucket, chunk_tokens, stride,
        chunk_tau_milli, chunk_drop_pm, cand_max_df, cand_min_shared,
        span_k=span_k,
    )
    cutdocs = None
    if span_k is not None:
        res, cutdocs = res
    final = scoped_persist(res)
    semb = emb.join(
        final.select(F.col("doc_id").alias("vec_id")), "vec_id", "leftsemi"
    )
    if sem_rung == "fast":
        pairs = ann_ops.semantic_cluster_pairs_fast(
            semb, tau_milli=sem_tau_milli, n_centroids=sem_centroids,
            iters=sem_iters, cap=sem_cap,
        )
    else:
        pairs = ann_ops.semantic_cluster_pairs(
            semb, tau_milli=sem_tau_milli, n_centroids=sem_centroids,
            iters=sem_iters, cap=sem_cap, seed_by_rank=True,
        )
    pairs = scoped_persist(pairs.select("vec_a", "vec_b"))
    dropped = pairs.select(F.col("vec_b").alias("dropped_id")).distinct()
    attr = (
        pairs.groupBy("vec_b").agg(F.min("vec_a").alias("rep"))
        .groupBy("rep").agg(F.count(F.lit(1)).alias("sd_absorbed"))
    )
    span_cols = ["span_dropped_tokens"] if span_k is not None else []
    final2 = (
        final.join(dropped, final.doc_id == dropped.dropped_id, "left_anti")
        .join(attr, final.doc_id == attr.rep, "left")
        .select(
            "doc_id", "n_tokens", "dup_count", *span_cols, "nd_dropped",
            "cc_absorbed",
            F.coalesce("sd_absorbed", F.lit(0)).alias("sd_absorbed"),
        )
    )
    if span_k is not None:
        return final2, cutdocs
    return final2


@_ladder
def curate_corpus_full(
    docs: DataFrame,
    emb: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
    cand_max_df: int = 50,
    cand_min_shared: int = 4,
    sem_tau_milli: int = 800,
    sem_centroids: int | None = 8,
    sem_iters: int = 2,
    sem_cap: int | None = 64,
    sem_rung: str = "exact",
    ppl_drop_pm: int = 100,
    span_k: int | None = None,
) -> DataFrame:
    """The FULLY-COMPOSED curation ladder (r11 VERDICT "Next round" #3;
    span rung r12 #1) — every rung a real pipeline runs, in one plan,
    each with its credit column: gates → exact digest (dup_count) →
    repeated-span removal (span_dropped_tokens, when ``span_k`` is
    set) → doc-level MinHash/LSH near-dup (nd_dropped) →
    candidate-restricted chunk containment (cc_absorbed) → embedding
    SemDeDup (sd_absorbed) → perplexity rank-drop (avg_nll_micro) →
    split (pm, split).

    Stage order is the production order: every syntactic rung runs
    before the LM trains, so boilerplate/duplicate mass can't dominate
    the model; with the span rung on, every stage after the digest —
    shingles, chunks, the LM — consumes the CUT text (duplicated
    ≥ span_k-token spans removed, corpus-wide first occurrence kept,
    fully-cut docs dropped — dedup.repeated_span_removal), which is
    exactly Lee et al.'s production order: cut the boilerplate before
    anything downstream can learn or match on it. The unigram LM
    trains on stage-6 SURVIVORS only and the ``ppl_drop_pm``
    most-surprising survivors drop by rank (_drop_top_ranked_pm — the
    range-partitioned boundary cut, no single-task window).

    Scale shape = the sum of its parts, each already plan-pinned: one
    16-byte digest exchange (stages 1-2), the span rung's one
    8-byte-gram exchange + islands merge (when on), band/bucket
    equi-joins + hot-bucket cap, inverted-index candidate restriction +
    chunk verify over candidates only, one survivor-leftsemi + one
    cent_id exchange with the block-pair skew bound, two linear LM
    passes + a broadcast vocab join + the boundary cut, content-keyed
    split projection. Output: [doc_id, n_tokens, dup_count,
    (span_dropped_tokens,) nd_dropped, cc_absorbed, sd_absorbed,
    avg_nll_micro, pm, split]; with span_k, n_tokens is the POST-cut
    count."""
    from . import textops as tx

    # truncate, don't just persist: the LM + rank + split stages make
    # ~6 more passes over final2, whose logical plan carries the whole
    # stage-1-5 composition (incl. the semantic applyInArrow subtree)
    # — same Catalyst re-analysis trap the stage-4 checkpoint already
    # documents, measured again here: 167.9 s → checkpointed at sf0.01
    res = _semdedup_final(
        docs, emb, lang, min_tokens, max_bucket, chunk_tokens, stride,
        chunk_tau_milli, chunk_drop_pm, cand_max_df, cand_min_shared,
        sem_tau_milli, sem_centroids, sem_iters, sem_cap, sem_rung,
        span_k=span_k,
    )
    if span_k is not None:
        res, docs = res  # the LM stage must score the CUT text
    final2 = scoped_persist(res)
    span_cols = ["span_dropped_tokens"] if span_k is not None else []
    sdocs = docs.join(final2.select("doc_id"), "doc_id", "leftsemi")
    scored = tx.unigram_logppl(sdocs).select("doc_id", "avg_nll_micro")
    kept = _drop_top_ranked_pm(
        final2.join(scored, "doc_id"), ppl_drop_pm
    ).select(
        "doc_id", "n_tokens", "dup_count", *span_cols, "nd_dropped",
        "cc_absorbed", "sd_absorbed", "avg_nll_micro",
    )
    return split_ops.assign_splits(
        kept, key="doc_id", seed=seed, train_pm=train_pm, val_pm=val_pm
    ).select(
        "doc_id", "n_tokens", "dup_count", *span_cols, "nd_dropped",
        "cc_absorbed", "sd_absorbed", "avg_nll_micro", "pm", "split",
    )


def _duck_neardup_kept_ctes(
    docs_sql: str,
    lang: str = "en",
    min_tokens: int = 12,
    max_bucket: int | None = 64,
    span_k: int | None = None,
) -> str:
    """Shared oracle CTE body for stages 1-3 (gates → digest dedup →
    doc-level near-dup collapse). Defines _aug, _surv, _clus, _kept0
    (doc_id, n_tokens, dup_count, nd_dropped). With ``span_k`` (twin
    of _neardup_kept's span rung): the repeated-span removal CTEs run
    between _surv and the near-dup stage — canonical = first
    occurrence by (doc_id, pos) via row_number, islands merge, token
    rows anti-filtered against span ranges, re-aggregated to _cut
    [doc_id, text, n_after] (fully-cut docs absent, hence dropped) —
    the near-dup pairs run over _cut text, and _kept0 gains
    span_dropped_tokens with n_tokens becoming the post-cut count."""
    from . import dedup as dedup_ops, textops as tx
    from ..functions import text as text_fns

    toks = text_fns.DUCK_TOKENS
    guess = _lang_guess_expr("duckdb")
    if span_k is None:
        sdocs = "(SELECT doc_id, text FROM _aug WHERE doc_id IN "\
                "(SELECT doc_id FROM _surv))"
        span_ctes = ""
        kept0 = """_kept0 AS MATERIALIZED (
        SELECT s.doc_id, s.n_tokens, s.dup_count,
               coalesce(z.nd_dropped, 0) AS nd_dropped
        FROM _surv s
        LEFT JOIN _clus c ON c.doc_id = s.doc_id
        LEFT JOIN (SELECT cluster_id, count(*) - 1 AS nd_dropped
                   FROM _clus GROUP BY cluster_id) z
          ON z.cluster_id = s.doc_id
        WHERE c.cluster_id IS NULL OR c.cluster_id = s.doc_id
      )"""
    else:
        k = span_k
        g64 = text_fns.duck_hash64_str(
            f"array_to_string(t[i:i + {k - 1}], ' ')"
        )
        sdocs = "(SELECT doc_id, text FROM _cut)"
        span_ctes = f"""_sd0 AS MATERIALIZED (
        SELECT doc_id, {toks} AS t FROM _aug
        WHERE doc_id IN (SELECT doc_id FROM _surv)
      ),
      _socc AS MATERIALIZED (
        SELECT doc_id, (i - 1)::BIGINT AS pos, {g64} AS g64
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - {k} + 2)) AS i
              FROM _sd0 WHERE len(t) >= {k}) _w
      ),
      _sm AS (
        SELECT doc_id, pos FROM (
          SELECT doc_id, pos, row_number() OVER (
                   PARTITION BY g64 ORDER BY doc_id, pos) AS rn
          FROM _socc) _r
        WHERE rn > 1
      ),
      _sb AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER dw IS NULL
                      OR pos - lag(pos) OVER dw > {k}
                    THEN 1 ELSE 0 END AS brk
        FROM _sm WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
      ),
      _si AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS isl
        FROM _sb
      ),
      _ssp AS MATERIALIZED (
        SELECT doc_id, min(pos) AS s, max(pos) + {k - 1} AS e
        FROM _si GROUP BY doc_id, isl
      ),
      _skp AS (
        SELECT w.doc_id, w.tok, w.i FROM (
          SELECT doc_id, unnest(t) AS tok,
                 generate_subscripts(t, 1) - 1 AS i
          FROM _sd0) w
        WHERE NOT EXISTS (SELECT 1 FROM _ssp s
                          WHERE s.doc_id = w.doc_id
                            AND w.i BETWEEN s.s AND s.e)
      ),
      _cut AS MATERIALIZED (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text,
               count(*)::BIGINT AS n_after
        FROM _skp GROUP BY doc_id
      ),
      """
        kept0 = """_kept0 AS MATERIALIZED (
        SELECT s.doc_id, u.n_after AS n_tokens, s.dup_count,
               (s.n_tokens - u.n_after)::BIGINT AS span_dropped_tokens,
               coalesce(z.nd_dropped, 0) AS nd_dropped
        FROM _surv s
        JOIN _cut u ON u.doc_id = s.doc_id
        LEFT JOIN _clus c ON c.doc_id = s.doc_id
        LEFT JOIN (SELECT cluster_id, count(*) - 1 AS nd_dropped
                   FROM _clus GROUP BY cluster_id) z
          ON z.cluster_id = s.doc_id
        WHERE c.cluster_id IS NULL OR c.cluster_id = s.doc_id
      )"""
    pairs = tx.duck_jaccard_pairs_sql(
        sdocs,
        tx.duck_lsh_pairs_sql(
            tx.duck_minhash_sql(sdocs), max_bucket=max_bucket
        ),
    )
    clusters = dedup_ops.duck_cluster_sql(
        f"(SELECT doc_a, doc_b FROM {pairs} _pp)"
    )
    return f"""_aug AS MATERIALIZED (SELECT doc_id, text FROM {docs_sql} _d),
      _surv AS MATERIALIZED (
        SELECT digest, min(doc_id) AS doc_id, min(n_tokens) AS n_tokens,
               count(*) AS dup_count
        FROM (
          SELECT doc_id, md5(text) AS digest,
                 len({toks}) AS n_tokens, {guess} AS lang_guess
          FROM _aug _f
        ) _g
        WHERE lang_guess = '{lang}' AND n_tokens >= {min_tokens}
        GROUP BY digest
      ),
      {span_ctes}_clus AS MATERIALIZED (SELECT * FROM {clusters} _cl),
      {kept0}"""


def duck_curate_neardup_sql(
    docs_sql: str,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
) -> str:
    ctes = _duck_neardup_kept_ctes(docs_sql, lang, min_tokens, max_bucket)
    assigned = split_ops.duck_assign_splits_sql(
        "SELECT * FROM _kept0 _k", key="doc_id", seed=seed,
        train_pm=train_pm, val_pm=val_pm,
    )
    return f"""(
      WITH {ctes}
      SELECT doc_id, n_tokens, dup_count, nd_dropped, pm, split
      FROM {assigned} _o
    )"""


def _duck_containment_tail_ctes(
    cpairs_sql: str,
    chunk_tokens: int,
    stride: int,
    chunk_drop_pm: int,
    span: bool = False,
) -> str:
    """Shared oracle tail (twin of _containment_drop): chunk pairs →
    matched counts → closed-form chunk totals → drop → attribution.
    Defines _cp, _mc, _nc, _drop, _attr, _final over _kept0.
    ``span``: when the span rung is on, the span_dropped_tokens credit
    column passes through _final."""
    span_col = ", k.span_dropped_tokens" if span else ""
    return f"""_cp AS MATERIALIZED (
        SELECT doc_a, chunk_a, doc_b, chunk_b FROM {cpairs_sql} _c
        WHERE doc_a != doc_b
      ),
      _mc AS (SELECT doc_b AS doc_id, count(DISTINCT chunk_b) AS mc
              FROM _cp GROUP BY doc_b),
      _nc AS (SELECT doc_id,
              cast(ceil(greatest(n_tokens - {chunk_tokens}, 0) /
                   {stride}.0) as int) + 1 AS nc
              FROM _kept0),
      _drop AS (SELECT m.doc_id FROM _mc m JOIN _nc n USING (doc_id)
                WHERE m.mc * 1000 >= {chunk_drop_pm} * n.nc),
      _attr AS (SELECT rep, count(*) AS cc_absorbed FROM (
                  SELECT doc_b, min(doc_a) AS rep FROM _cp
                  WHERE doc_b IN (SELECT doc_id FROM _drop)
                  GROUP BY doc_b) _a GROUP BY rep),
      _final AS (
        SELECT k.doc_id, k.n_tokens, k.dup_count{span_col},
               k.nd_dropped,
               coalesce(a.cc_absorbed, 0) AS cc_absorbed
        FROM _kept0 k
        LEFT JOIN _attr a ON a.rep = k.doc_id
        WHERE k.doc_id NOT IN (SELECT doc_id FROM _drop)
      )"""


def duck_curate_chunk_neardup_sql(
    docs_sql: str,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
) -> str:
    """Oracle twin of curate_corpus_chunk_neardup: the doc-level CTEs
    plus the chunk-level containment stage."""
    ctes = _duck_neardup_kept_ctes(docs_sql, lang, min_tokens, max_bucket)
    kdocs = "(SELECT doc_id, text FROM _aug WHERE doc_id IN "\
            "(SELECT doc_id FROM _kept0))"
    cpairs = duck_chunk_near_dup_sql(
        kdocs, chunk_tokens, stride, max_bucket, chunk_tau_milli
    )
    assigned = split_ops.duck_assign_splits_sql(
        "SELECT * FROM _final _k", key="doc_id", seed=seed,
        train_pm=train_pm, val_pm=val_pm,
    )
    tail = _duck_containment_tail_ctes(
        cpairs, chunk_tokens, stride, chunk_drop_pm
    )
    return f"""(
      WITH {ctes},
      {tail}
      SELECT doc_id, n_tokens, dup_count, nd_dropped, cc_absorbed,
             pm, split
      FROM {assigned} _o
    )"""


def duck_curate_chunk_containment_sql(
    docs_sql: str,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
    cand_max_df: int = 50,
    cand_min_shared: int = 4,
) -> str:
    """Oracle twin of curate_corpus_chunk_containment: the doc-level
    CTEs, the inverted-index candidate restriction, and the chunk
    containment stage over the candidate docs only."""
    from ..functions import text as text_fns

    ctes = _duck_neardup_kept_ctes(docs_sql, lang, min_tokens, max_bucket)
    kdocs = "(SELECT doc_id, text FROM _aug WHERE doc_id IN "\
            "(SELECT doc_id FROM _kept0))"
    h64 = text_fns.duck_hash64_str("shingle")
    sh = text_fns.duck_shingle_rows_sql(kdocs)
    cand_ctes = f"""_ksh AS MATERIALIZED (
        SELECT DISTINCT doc_id, {h64} AS sh64 FROM {sh} _s),
      _post AS (SELECT sh64 FROM _ksh GROUP BY sh64
                HAVING count(*) BETWEEN 2 AND {cand_max_df}),
      _idx AS (SELECT k.doc_id, k.sh64 FROM _ksh k
               JOIN _post USING (sh64)),
      _cnd AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM _idx a JOIN _idx b
                 ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id
               HAVING count(*) >= {cand_min_shared}),
      _cdocs AS MATERIALIZED (SELECT doc_a AS doc_id FROM _cnd
                UNION SELECT doc_b AS doc_id FROM _cnd)"""
    cdocs = "(SELECT doc_id, text FROM _aug WHERE doc_id IN "\
            "(SELECT doc_id FROM _cdocs))"
    cpairs = duck_chunk_near_dup_sql(
        cdocs, chunk_tokens, stride, max_bucket, chunk_tau_milli
    )
    assigned = split_ops.duck_assign_splits_sql(
        "SELECT * FROM _final _k", key="doc_id", seed=seed,
        train_pm=train_pm, val_pm=val_pm,
    )
    tail = _duck_containment_tail_ctes(
        cpairs, chunk_tokens, stride, chunk_drop_pm
    )
    return f"""(
      WITH {ctes},
      {cand_ctes},
      {tail}
      SELECT doc_id, n_tokens, dup_count, nd_dropped, cc_absorbed,
             pm, split
      FROM {assigned} _o
    )"""


def duck_curate_semdedup_sql(
    docs_sql: str,
    emb_sql: str,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
    cand_max_df: int = 50,
    cand_min_shared: int = 4,
    sem_tau_milli: int = 800,
    sem_centroids: int = 8,
    sem_iters: int = 2,
) -> str:
    """Oracle twin of curate_corpus_semdedup: the chunk-containment
    composition's CTEs plus the semantic stage — survivor-restricted
    embeddings, the rank-seeded symbolic Lloyd's replay + intra-cluster
    HUGEINT-certificate pairs, the smaller-id drop rule and sd_absorbed
    attribution. The skew cap has NO oracle counterpart by design: the
    block-pair decomposition is physical-only."""
    body = _duck_semdedup_ctes(
        docs_sql, emb_sql, lang, min_tokens, max_bucket, chunk_tokens,
        stride, chunk_tau_milli, chunk_drop_pm, cand_max_df,
        cand_min_shared, sem_tau_milli, sem_centroids, sem_iters,
    )
    assigned = split_ops.duck_assign_splits_sql(
        "SELECT * FROM _final2 _k", key="doc_id", seed=seed,
        train_pm=train_pm, val_pm=val_pm,
    )
    return f"""(
      WITH {body}
      SELECT doc_id, n_tokens, dup_count, nd_dropped, cc_absorbed,
             sd_absorbed, pm, split
      FROM {assigned} _o
    )"""


def _duck_semdedup_ctes(
    docs_sql: str,
    emb_sql: str,
    lang: str = "en",
    min_tokens: int = 12,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
    cand_max_df: int = 50,
    cand_min_shared: int = 4,
    sem_tau_milli: int = 800,
    sem_centroids: int = 8,
    sem_iters: int = 2,
    span_k: int | None = None,
) -> str:
    """Shared oracle CTE body for stages 1-5 (twin of _semdedup_final):
    gates/digest/near-dup CTEs + candidate restriction + containment
    tail + semantic stage, ending at ``_final2`` [doc_id, n_tokens,
    dup_count, nd_dropped, cc_absorbed, sd_absorbed]. With ``span_k``
    the chunk stage reads the CUT text (_cut, see
    _duck_neardup_kept_ctes) and span_dropped_tokens rides along."""
    from ..functions import text as text_fns
    from . import ann as ann_ops

    ctes = _duck_neardup_kept_ctes(
        docs_sql, lang, min_tokens, max_bucket, span_k=span_k
    )
    src = "_cut" if span_k is not None else "_aug"
    kdocs = f"(SELECT doc_id, text FROM {src} WHERE doc_id IN "\
            "(SELECT doc_id FROM _kept0))"
    h64 = text_fns.duck_hash64_str("shingle")
    sh = text_fns.duck_shingle_rows_sql(kdocs)
    cand_ctes = f"""_ksh AS MATERIALIZED (
        SELECT DISTINCT doc_id, {h64} AS sh64 FROM {sh} _s),
      _post AS (SELECT sh64 FROM _ksh GROUP BY sh64
                HAVING count(*) BETWEEN 2 AND {cand_max_df}),
      _idx AS (SELECT k.doc_id, k.sh64 FROM _ksh k
               JOIN _post USING (sh64)),
      _cnd AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM _idx a JOIN _idx b
                 ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id
               HAVING count(*) >= {cand_min_shared}),
      _cdocs AS MATERIALIZED (SELECT doc_a AS doc_id FROM _cnd
                UNION SELECT doc_b AS doc_id FROM _cnd)"""
    cdocs = f"(SELECT doc_id, text FROM {src} WHERE doc_id IN "\
            "(SELECT doc_id FROM _cdocs))"
    cpairs = duck_chunk_near_dup_sql(
        cdocs, chunk_tokens, stride, max_bucket, chunk_tau_milli
    )
    tail = _duck_containment_tail_ctes(
        cpairs, chunk_tokens, stride, chunk_drop_pm,
        span=span_k is not None,
    )
    span_col = ", f.span_dropped_tokens" if span_k is not None else ""
    sem_pairs = ann_ops.duck_semantic_cluster_pairs_sql(
        tau_milli=sem_tau_milli, n_centroids=sem_centroids,
        iters=sem_iters, table="_semb", seed_by_rank=True,
    )
    sem_ctes = f"""_semb AS MATERIALIZED (
        SELECT vec_id, embedding FROM {emb_sql} _e
        WHERE vec_id IN (SELECT doc_id FROM _final)),
      _sp AS MATERIALIZED (SELECT vec_a, vec_b FROM {sem_pairs} _p),
      _sdrop AS (SELECT DISTINCT vec_b AS doc_id FROM _sp),
      _sattr AS (SELECT rep, count(*) AS sd_absorbed FROM (
                   SELECT vec_b, min(vec_a) AS rep FROM _sp
                   GROUP BY vec_b) _a GROUP BY rep),
      _final2 AS (
        SELECT f.doc_id, f.n_tokens, f.dup_count{span_col},
               f.nd_dropped,
               f.cc_absorbed, coalesce(s.sd_absorbed, 0) AS sd_absorbed
        FROM _final f
        LEFT JOIN _sattr s ON s.rep = f.doc_id
        WHERE f.doc_id NOT IN (SELECT doc_id FROM _sdrop)
      )"""
    return f"""{ctes},
      {cand_ctes},
      {tail},
      {sem_ctes}"""


def duck_curate_full_sql(
    docs_sql: str,
    emb_sql: str,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    max_bucket: int | None = 64,
    chunk_tokens: int = 32,
    stride: int = 16,
    chunk_tau_milli: int = 500,
    chunk_drop_pm: int = 500,
    cand_max_df: int = 50,
    cand_min_shared: int = 4,
    sem_tau_milli: int = 800,
    sem_centroids: int = 8,
    sem_iters: int = 2,
    ppl_drop_pm: int = 100,
    span_k: int | None = None,
) -> str:
    """Oracle twin of curate_corpus_full: the stage-1-5 CTE body plus
    the perplexity stage (LM replay over stage-5 survivors, rank-based
    drop — the oracle uses the plain global window, which on the
    single-node replay is exactly _drop_top_ranked_pm's boundary cut)
    and the split. With ``span_k`` the LM scores the CUT text and
    span_dropped_tokens rides through to the output."""
    from . import textops as tx

    body = _duck_semdedup_ctes(
        docs_sql, emb_sql, lang, min_tokens, max_bucket, chunk_tokens,
        stride, chunk_tau_milli, chunk_drop_pm, cand_max_df,
        cand_min_shared, sem_tau_milli, sem_centroids, sem_iters,
        span_k=span_k,
    )
    src = "_cut" if span_k is not None else "_aug"
    spanc = ", span_dropped_tokens" if span_k is not None else ""
    spancf = ", f.span_dropped_tokens" if span_k is not None else ""
    pdocs = f"(SELECT doc_id, text FROM {src} WHERE doc_id IN "\
            "(SELECT doc_id FROM _final2))"
    lp = tx.duck_unigram_logppl_sql(pdocs)
    ppl_ctes = f"""_pscored AS MATERIALIZED (
        SELECT doc_id, avg_nll_micro FROM {lp} _p),
      _pranked AS (
        SELECT f.doc_id, f.n_tokens, f.dup_count{spancf}, f.nd_dropped,
               f.cc_absorbed, f.sd_absorbed, c.avg_nll_micro,
               row_number() OVER (
                 ORDER BY c.avg_nll_micro DESC, f.doc_id ASC
               ) AS ppl_rank,
               count(*) OVER () AS n_surv
        FROM _final2 f JOIN _pscored c USING (doc_id)
      ),
      _pkept AS (
        SELECT doc_id, n_tokens, dup_count{spanc}, nd_dropped,
               cc_absorbed, sd_absorbed, avg_nll_micro
        FROM _pranked
        WHERE ppl_rank > cast(ceil({ppl_drop_pm} * n_surv / 1000.0) as int)
      )"""
    assigned = split_ops.duck_assign_splits_sql(
        "SELECT * FROM _pkept _k", key="doc_id", seed=seed,
        train_pm=train_pm, val_pm=val_pm,
    )
    return f"""(
      WITH {body},
      {ppl_ctes}
      SELECT doc_id, n_tokens, dup_count{spanc}, nd_dropped,
             cc_absorbed, sd_absorbed, avg_nll_micro, pm, split
      FROM {assigned} _o
    )"""


def _drop_top_ranked_pm(stats: DataFrame, drop_pm: int) -> DataFrame:
    """Drop the ⌈n·pm/1000⌉ top-ranked rows by (avg_nll_micro DESC,
    doc_id ASC) WITHOUT a single-partition global window (r11 ADVICE:
    row_number over an unpartitioned ORDER BY moves every row into one
    task — an OOM/straggler at corpus scale, not a distributed sort).

    Distributed shape: one range-repartition on the sort key (the
    partitioner Spark's own ORDER BY uses), one per-partition count
    (P scalars to the driver), then the boundary element — the
    n_drop-th row globally — is located in the single partition where
    the cumulative count crosses n_drop and read with a window over
    THAT partition only (~n/P rows, one task). Kept rows are everything
    strictly after the boundary key; the key (avg_nll_micro, doc_id) is
    unique, so the cut is exact and independent of partition
    boundaries. Cost: one skinny exchange + two cheap passes over the
    persisted frame — no row ever ranks against the whole corpus in
    one task."""
    import math

    from pyspark.sql import Window

    key = (F.desc("avg_nll_micro"), F.asc("doc_id"))
    sdf = scoped_persist(
        stats.repartitionByRange(*key)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in sdf.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    )
    n_surv = sum(n for _, n in counts)
    n_drop = math.ceil(drop_pm * n_surv / 1000.0)
    if n_drop <= 0:
        return sdf.drop("_pid")
    acc = 0
    pid_star, k = counts[-1][0], counts[-1][1]
    for pid, n in counts:
        if acc + n >= n_drop:
            pid_star, k = pid, n_drop - acc
            break
        acc += n
    w = Window.partitionBy("_pid").orderBy(*key)
    b = (
        sdf.filter(F.col("_pid") == pid_star)
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == k)
        .select("avg_nll_micro", "doc_id")
        .collect()[0]
    )
    return sdf.filter(
        (F.col("avg_nll_micro") < b.avg_nll_micro)
        | (
            (F.col("avg_nll_micro") == b.avg_nll_micro)
            & (F.col("doc_id") > b.doc_id)
        )
    ).drop("_pid")


def curate_corpus_ppl(
    docs: DataFrame,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    ppl_drop_pm: int = 100,
) -> DataFrame:
    """The curation pipeline with the LM-QUALITY stage composed in —
    the CCNet/DCLM recipe's perplexity filter: gates → exact-digest
    dedup → unigram LM over the SURVIVORS (dedup before LM training,
    so boilerplate mass can't dominate the model) → drop the
    ``ppl_drop_pm`` per-mille most-surprising survivors → split.

    The drop is RANK-based, not threshold-based: survivors rank by
    (avg_nll_micro DESC, doc_id ASC — deterministic ties) and the top
    ⌈n·pm/1000⌉ drop. Rank beats a fixed threshold at every scale (a
    literal tuned at sf0.01 means nothing at sf100) and keeps the
    cross-engine surface INTEGER comparisons over already-quantized
    micro-nats — no new transcendental exposure class beyond what
    text_unigram_logppl's gate already carries (tests/test_ln_margin.py).

    Scale shape: the gates/dedup stage is curate_corpus's (one 16-byte
    digest exchange); the LM is two linear passes + a broadcast-
    eligible vocab join (unigram_logppl's shape, restricted to
    survivors via one leftsemi); the rank-drop is _drop_top_ranked_pm's
    range-partitioned boundary cut over SKINNY per-doc stat rows —
    no single-task global window (r11 ADVICE).
    Output: [doc_id, n_tokens, dup_count, avg_nll_micro, pm, split]."""
    from . import textops as tx

    facets = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.expr(f"cast(size({_TOKS}) as bigint)").alias("n_tokens"),
        F.expr(_lang_guess_expr("spark")).alias("lang_guess"),
    )
    gated = facets.filter(
        (F.col("lang_guess") == lang) & (F.col("n_tokens") >= min_tokens)
    )
    survivors = scoped_persist(gated.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("dup_count"),
    ))
    sdocs = docs.join(survivors.select("doc_id"), "doc_id", "leftsemi")
    scored = tx.unigram_logppl(sdocs).select("doc_id", "avg_nll_micro")
    kept = _drop_top_ranked_pm(
        survivors.join(scored, "doc_id"), ppl_drop_pm
    ).select("doc_id", "n_tokens", "dup_count", "avg_nll_micro")
    return split_ops.assign_splits(
        kept, key="doc_id", seed=seed, train_pm=train_pm, val_pm=val_pm
    ).select(
        "doc_id", "n_tokens", "dup_count", "avg_nll_micro", "pm", "split",
    )


def duck_curate_ppl_sql(
    docs_sql: str,
    lang: str = "en",
    min_tokens: int = 12,
    seed: int = 42,
    train_pm: int = 800,
    val_pm: int = 100,
    ppl_drop_pm: int = 100,
) -> str:
    """Oracle twin of curate_corpus_ppl: the gates/digest CTEs, the
    unigram-LM replay over survivor docs, the rank-based drop."""
    from ..functions import text as text_fns
    from . import textops as tx

    toks = text_fns.DUCK_TOKENS
    guess = _lang_guess_expr("duckdb")
    sdocs = "(SELECT doc_id, text FROM _aug WHERE doc_id IN "\
            "(SELECT doc_id FROM _surv))"
    lp = tx.duck_unigram_logppl_sql(sdocs)
    assigned = split_ops.duck_assign_splits_sql(
        "SELECT * FROM _kept _k", key="doc_id", seed=seed,
        train_pm=train_pm, val_pm=val_pm,
    )
    return f"""(
      WITH _aug AS MATERIALIZED (SELECT doc_id, text FROM {docs_sql} _d),
      _surv AS MATERIALIZED (
        SELECT digest, min(doc_id) AS doc_id, min(n_tokens) AS n_tokens,
               count(*) AS dup_count
        FROM (
          SELECT doc_id, md5(text) AS digest,
                 len({toks}) AS n_tokens, {guess} AS lang_guess
          FROM _aug _f
        ) _g
        WHERE lang_guess = '{lang}' AND n_tokens >= {min_tokens}
        GROUP BY digest
      ),
      _scored AS MATERIALIZED (
        SELECT doc_id, avg_nll_micro FROM {lp} _p
      ),
      _ranked AS (
        SELECT s.doc_id, s.n_tokens, s.dup_count, c.avg_nll_micro,
               row_number() OVER (
                 ORDER BY c.avg_nll_micro DESC, s.doc_id ASC
               ) AS ppl_rank,
               count(*) OVER () AS n_surv
        FROM _surv s JOIN _scored c USING (doc_id)
      ),
      _kept AS (
        SELECT doc_id, n_tokens, dup_count, avg_nll_micro
        FROM _ranked
        WHERE ppl_rank > cast(ceil({ppl_drop_pm} * n_surv / 1000.0) as int)
      )
      SELECT doc_id, n_tokens, dup_count, avg_nll_micro, pm, split
      FROM {assigned} _o
    )"""
