"""Physical-plan assertions — the 100 TB evidence (SURVEY.md §4).

These tests pin the properties that make the engine scale: filters and
projections reach the parquet reader, small dims broadcast, hot
expressions stay inside whole-stage codegen, windows share exchanges,
and the flagship pipeline has exactly the shuffles it needs — so a
regression that silently adds an exchange or drops out of codegen fails
CI, not the cluster."""

from __future__ import annotations

import pytest

from geneticalgorithmsusingmapreduce_spark import catalog

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    """Finalized physical plan: execute first (AQE only finalizes at
    runtime), then keep the Final Plan section (the string otherwise
    repeats every operator in the Initial Plan section too)."""
    df.collect()  # a write would spawn a separate QueryExecution
    p = df._jdf.queryExecution().executedPlan().toString()
    return p.split("== Initial Plan ==")[0]


def test_scan_pushdown_reaches_parquet(spark):
    p = _plan(catalog.QUERIES["scan_filter_project"](spark, SF))
    assert "PushedFilters: [" in p or "DataFilters: [" in p
    # column pruning: the read schema must carry only the needed columns
    assert "l_comment" not in p
    seg = p[p.index("ReadSchema"):]
    assert "l_extendedprice" in seg and "l_returnflag" not in seg


def test_broadcast_join_selected(spark):
    p = _plan(catalog.QUERIES["join_broadcast_revenue"](spark, SF))
    assert "BroadcastHashJoin" in p
    # nation is hint-forced; customer is AQE's choice (r7 VERDICT #1:
    # a pinned broadcast of a table that grows with the corpus is a
    # scale trap) — at test scale AQE still broadcasts it, so both dims
    # arrive without a shuffle exchange on their own join keys
    assert p.count("BroadcastHashJoin") >= 2
    # the one forced hint must be nation's, not customer's
    import re

    src = __import__("inspect").getsource(
        catalog.join_broadcast_revenue.__wrapped__
        if hasattr(catalog.join_broadcast_revenue, "__wrapped__")
        else catalog.join_broadcast_revenue
    )
    assert len(re.findall(r"\.join\(F\.broadcast\(", src)) == 1
    assert ".join(F.broadcast(n)" in src


def test_semi_anti_join_operators(spark):
    p = _plan(catalog.QUERIES["join_semi_anti"](spark, SF))
    assert "LeftSemi" in p and "LeftAnti" in p


def test_flagship_is_single_shuffle(spark):
    # scan → genome gen → fitness → grouped agg: exactly one exchange,
    # with the partial aggregate BEFORE it (map-side combine). Note the
    # agg is SortAggregate, not Hash: grouped max_by carries an
    # array<bigint> buffer, which the hash-agg's fixed-size row can't
    # hold — fine, since the partial agg shrinks each partition to
    # #groups rows before the shuffle.
    p = _plan(catalog.QUERIES["flagship_best_by_flag"](spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_max_by" in p.split("Exchange")[1]  # partial below it


def test_flagship_stays_in_codegen(spark):
    # the genome/popcount projection must sit inside a WholeStageCodegen
    # span — interpreted fallback was a 12× regression (functions.prng)
    p = _plan(catalog.QUERIES["flagship_best_by_flag"](spark, SF))
    assert "*(1)" in p  # at least one codegen stage wrapping the scan side


def test_window_queries_share_one_exchange(spark):
    # all analytic windows share a partitioning → one exchange, one sort
    p = _plan(catalog.QUERIES["window_analytics"](spark, SF))
    assert p.count("Exchange") == 1
    assert p.count("Sort") <= 2


def test_tournament_exchange_count(spark):
    # seeded shuffle + the tournament walk: the bucket exchange is the
    # plan's only exchange (the walk runs inside each bucket, no
    # per-window re-shuffle)
    p = _plan(catalog.QUERIES["sga_tournament"](spark, SF))
    assert p.count("Exchange") == 1, p
    assert "Exchange shufflepartitionidpassthrough(" in p, p


def _formatted_plan(df) -> str:
    """explain('formatted') as a string — per-node Input/Output column
    lists, which the tree string doesn't carry."""
    df.collect()  # finalize AQE
    jdf = df._jdf
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        jdf.queryExecution(), "formatted"
    )


def test_tournament_shuffle_is_skinny(spark):
    # the walk needs only (id, genome, fitness, skey, part): its bucket
    # exchange carries exactly those columns (nothing of the
    # population's source rows), and every sort is the per-bucket
    # (part, skey, id) order the kernel streams in. The formatted plan
    # lists the final and the initial plan's nodes, so each shows twice.
    p = _formatted_plan(catalog.QUERIES["sga_tournament"](spark, SF))
    # split into per-node blocks: "(12) Exchange ..." sections
    blocks = [
        b for b in re.split(r"\n(?=\(\d+\) )", p) if b.startswith("(")
    ]
    exchanges = [b for b in blocks if "Exchange" in b.split("\n")[0]]
    assert exchanges, "no exchange found (plan parse failed?)"
    for b in exchanges:
        cols = re.search(r"Input \[\d+\]: \[(.*)\]", b)
        assert cols, b
        assert [c.split("#")[0] for c in cols.group(1).split(", ")] == [
            "id", "genome", "fitness", "skey", "part",
        ], b
    sorts = [b for b in blocks if b.split("\n")[0].endswith("Sort")]
    assert sorts, "no bucket sort found"
    for b in sorts:
        assert re.search(
            r"Arguments: \[part#\d+L? ASC NULLS FIRST, skey#\d+L? ASC "
            r"NULLS FIRST, id#\d+L? ASC NULLS FIRST\]", b
        ), b


def test_cga_generation_no_join_no_extra_shuffle(spark):
    # the recomputing update is a projection over the model: no join
    # operators anywhere in the plan
    p = _plan(catalog.QUERIES["cga_generation"](spark, SF))
    assert "Join" not in p


def test_dedup_genomes_partial_aggregation(spark):
    # map-side partial agg before the exchange (duplicate-heavy inputs
    # shrink before shuffling)
    p = _plan(catalog.QUERIES["dedup_genomes"](spark, SF))
    first_agg = p.index("HashAggregate")
    assert "HashAggregate" in p[first_agg + 1:]  # partial + final pair


# --- ANN / dedup extension plan shapes (VERDICT r1 #8) -------------------
# These pin the properties that make the 100 TB paths viable: candidate
# generation via bucketed equi-joins (never all-pairs), broadcast for the
# small sides, and partial aggregation below every exchange. A refactor
# that silently degrades one of these to a cartesian product fails here.

import re


def _join_on(p: str, key: str) -> bool:
    """True if some equi-join in the plan keys on `key` (any join strategy
    Catalyst picks at this scale — broadcast here, SMJ/shuffled-hash at
    100 TB — is fine; what matters is the join is keyed, not cross)."""
    return re.search(
        rf"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[(\w+#\d+L?, )*{key}#\d+", p
    ) is not None


def _one_kernel_exchange(p: str, key: str) -> None:
    """The plan pairs nothing with a centroid table, runs an Arrow
    kernel and shuffles once, on ``key``."""
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in p, f"plan has {node}:\n{p}"
    assert "InArrow" in p, f"plan has no Arrow kernel:\n{p}"
    assert p.count("Exchange ") == 1, p
    assert f"Exchange hashpartitioning({key}" in p, p


def test_ivf_topk_keyed_probe_no_cartesian(spark):
    # assignment is one Arrow pass, the probe pick is driver-side and
    # keys the postings scan on the probed cent_ids, and the per-query
    # partial top-ks merge in one window shuffled on query_id
    _one_kernel_exchange(
        _plan(catalog.QUERIES["emb_ivf_topk"](spark, SF)), "query_id"
    )


def test_lsh_pairs_bucketed_join(spark):
    p = _plan(catalog.QUERIES["emb_lsh_pairs"](spark, SF))
    assert "CartesianProduct" not in p
    assert _join_on(p, "bucket")


def test_cosine_near_dup_bucketed_join(spark):
    p = _plan(catalog.QUERIES["dedup_embedding_cosine"](spark, SF))
    assert "CartesianProduct" not in p
    assert _join_on(p, "bucket")


def test_minhash_lsh_band_bucket_join(spark):
    p = _plan(catalog.QUERIES["dedup_minhash_lsh"](spark, SF))
    assert "CartesianProduct" not in p
    assert _join_on(p, "band")  # self-join keyed (band, bucket)


def test_simhash_band_bucket_join(spark):
    p = _plan(catalog.QUERIES["dedup_simhash"](spark, SF))
    assert "CartesianProduct" not in p
    assert _join_on(p, "band")


def test_ngram_jaccard_shingle_keyed_join(spark):
    # candidates come from the df-pruned inverted index (posting-list
    # explode — no join at all), and the r5 verify joins the candidate
    # list to per-doc sh64 SETS keyed on the doc ids with the
    # intersection as a per-row array op — never an all-pairs product,
    # and never the old exploded per-shingle join (which materialized
    # |candidates|x|shingles/doc| rows before aggregating)
    p = _plan(catalog.QUERIES["dedup_ngram_jaccard"](spark, SF))
    assert "CartesianProduct" not in p
    assert _join_on(p, "doc_a") and _join_on(p, "doc_b")
    assert "array_intersect" in p


def test_topk_dot_is_broadcast_nlj_baseline(spark):
    # the exact baseline deliberately broadcasts the Q=5 query rows; it
    # must be a *broadcast* NLJ (small side shipped), never a cartesian
    p = _plan(catalog.QUERIES["emb_topk_dot"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_digest_dedup_exchange_carries_digest(spark):
    # the 100 TB exact-dedup variant: the shuffle keys on the 16-byte
    # binary digest, and the document text never crosses the exchange
    p = _plan(catalog.QUERIES["dedup_exact_digest"](spark, SF))
    assert "Exchange hashpartitioning(digest_bin" in p
    shuffled = p.split("Exchange hashpartitioning(digest_bin")[0]
    assert "text#" not in shuffled  # post-exchange side is digest+id only
    assert "partial_min" in p.split("Exchange")[1]  # map-side combine


def test_minhash_signatures_single_exchange(spark):
    # signatures: one hash-agg shuffle keyed by doc_id, partials below it
    p = _plan(catalog.QUERIES["minhash_signatures"](spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_min" in p.split("Exchange")[1]


def test_corpus_curation_single_exchange(spark):
    # the composed curation pipeline (gates → digest dedup → split) has
    # exactly ONE shuffle, keyed on the digest, with map-side partial
    # aggregation and the document text never crossing the exchange
    p = _plan(catalog.QUERIES["corpus_curation"](spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(digest" in p
    partial = next(
        l for l in p.splitlines() if "partial_min" in l
    )
    assert "text#" not in partial  # shuffled rows are (digest, id, tokens)


def test_asof_and_range_extend_plan_suite(spark):
    # temporal joins keep their scale shapes under composition with scans
    p = _plan(catalog.QUERIES["events_asof_join"](spark, SF))
    assert "CartesianProduct" not in p
    p2 = _plan(catalog.QUERIES["events_range_join"](spark, SF))
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2


def test_importance_sample_map_only(spark):
    # deterministic sampling is a pure projection + filter: no exchange,
    # no rand(), pushes the scan down to (doc_id, text)
    p = _plan(catalog.QUERIES["doc_importance_sample"](spark, SF))
    assert "Exchange" not in p
    assert "rand(" not in p


def test_repetition_single_exchange(spark):
    # posexplode → ONE doc_id exchange → window lead() bigrams → both
    # aggs reuse the window's partitioning (doc_id ⊂ (doc_id, gram)).
    # A second exchange means the aggs stopped reusing it; any HOF
    # lambda means the bigram builder fell out of codegen.
    p = _plan(catalog.QUERIES["text_repetition"](spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    # bigram built by a codegen'd Project (window lead + concat), not a
    # transform() lambda (the tokenizer's filter-lambda lives inside the
    # one-off Generate and is fine — it is not the per-bigram hot path)
    assert "Window [lead(tok" in p
    assert "*(3) Project [doc_id" in p and "concat(tok" in p


def test_kmeans_stats_broadcast_assignment(spark):
    # the post-training assignment pass ships the centroid model (8 rows)
    # in the Arrow kernel's closure — never a join with the vector
    # table — and only the per-cluster aggregate shuffles
    _one_kernel_exchange(
        _plan(catalog.QUERIES["emb_kmeans_clusters"](spark, SF)), "cent_id"
    )


def test_shipping_priority_broadcast_dim(spark):
    # Q3 shape: the filtered customer dim broadcasts; only the fact-fact
    # join may exchange. TakeOrderedAndProject caps the top-10 without a
    # global sort of the aggregated rows.
    p = _plan(catalog.QUERIES["shipping_priority"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_local_supplier_volume_dims_broadcast(spark):
    # Q5 shape: supplier/nation/region all arrive via broadcast — a
    # 6-table join with exactly the fact-fact exchanges and nothing else
    p = _plan(catalog.QUERIES["local_supplier_volume"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_cached_plans_get_adaptive_coalescing(spark):
    # persist() captures its physical plan at call time; without
    # canChangeCachedPlanOutputPartitioning AQE is bypassed for the
    # cached subtree and every cached exchange materializes at the raw
    # spark.sql.shuffle.partitions (200 near-empty tasks per round on a
    # driver-default session at gate scale). Pin that cache
    # materialization IS coalesced: a tiny grouped result must come back
    # in far fewer partitions than the configured shuffle width.
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        cached = (
            spark.range(10_000)
            .groupBy((F.col("id") % 50).alias("k"))
            .count()
            .persist()
        )
        cached.count()  # materialize
        assert cached.rdd.getNumPartitions() < 32
    finally:
        cached.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_neardup_pairs_read_from_parquet_artifact(spark):
    # r5 VERDICT #2: the verified pair graph must arrive via a parquet
    # scan (distributed serve), never through the driver — a regression
    # back to collect+createDataFrame would show as LocalTableScan
    p = _plan(catalog.QUERIES["neardup_pairs_roundtrip"](spark, SF))
    assert "FileScan parquet" in p
    assert "LocalTableScan" not in p
    # consumers read the identical artifact
    p2 = _plan(catalog.QUERIES["dedup_clusters_star"](spark, SF))
    assert "LocalTableScan" not in p2


def test_banded_cosine_pairids_join_is_skinny(spark):
    # the banded self-join must move only (vec_id, band, bucket) rows;
    # the quantized arrays join back AFTER cross-band dedup — qv must
    # not appear among the self-join keys' exchange
    from geneticalgorithmsusingmapreduce_spark.operators import ann

    df = ann.cosine_near_pairs(
        ann.augmented_embeddings(spark, SF), n_planes=16, bands=2
    )
    p = _plan(df)
    # exactly one pair-dedup (the cross-band distinct) before verify
    assert "HashAggregate" in p or "SortAggregate" in p
    # the quantize kernel runs ONCE: every later reference to the banded
    # base (band rows + both array sides) must be served from the
    # persisted materialization, not recomputed (the plan TEXT repeats
    # the cached subtree per reference, so count cache scans, not nodes)
    assert "InMemoryTableScan" in p


def test_distinct_counts_no_expand(spark):
    # r7: the naive 3-way countDistinct over the joined fact measured
    # 25.24x for 10x data at the sf10->sf100 decade — Spark EXPANDs the
    # joined rows 3x (one copy per distinct agg) after shuffling them at
    # full width. The rewrite keeps each distinct agg two-level on a
    # narrow projection and joins orders only against DISTINCT
    # (orderkey, flag) pairs: no Expand node anywhere, and the tiny
    # 3-row per-column results come back via broadcast joins.
    p = _plan(catalog.QUERIES["distinct_counts"](spark, SF))
    assert "Expand" not in p
    assert "BroadcastHashJoin" in p  # the 3-row result stitch-up


def test_q5_orders_customer_join_first(spark):
    # r7: Catalyst never reorders joins without CBO, so the Q5 rewrite's
    # property must be pinned structurally: the orders x customer join
    # reduces to a skinny (o_orderkey, c_nationkey) projection BEFORE
    # lineitem joins — the optimized plan must contain that two-column
    # Project (it cannot exist under the old li-first ordering, where
    # customer joined the full-width fact output).
    import re

    df = catalog.QUERIES["local_supplier_volume"](spark, SF)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"Project \[o_orderkey#\d+L?, c_nationkey#\d+L?\]", p)


def test_semdedup_balanced_single_block_exchange(spark):
    # the skew-bounded verify's physical contract: ONE exchange keyed
    # (cent_id, bi, bj) feeding the block_pair kernel — hot-cluster rows
    # replicate across block groups INSIDE that exchange, never a second
    # shuffle, and the census collect stays model-sized (pre-aggregated)
    from geneticalgorithmsusingmapreduce_spark.operators import ann

    aug = ann.augmented_embeddings(spark, SF)
    df = ann.semantic_cluster_pairs(aug, tau_milli=700, n_centroids=16,
                                    cap=24)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in p
    assert p.count("hashpartitioning(cent_id") == 1
    assert "bi" in p and "bj" in p  # the block keys ride that exchange


# extended-explain budget (bytes) of the int8 postings that an IVF index
# generation writes: the encode kernel's plan measures ~1.1 KB; the
# expression form it replaced (crossJoin + 64-term dot + groupBy, with
# the 64-term scale inlined into each of 64 int8 components) ~254 KB
POSTINGS8_EXPLAIN_BUDGET = 8 << 10


def test_ivf_generation_postings_one_kernel_pass(spark, tmp_path,
                                                 monkeypatch):
    # the postings of an index generation are one narrow Arrow pass over
    # the vectors: no pairing with the centroid table, no shuffle, and a
    # constant-size plan — a blowup fails here by name
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        ivf_rebuild as ir,
    )

    written = {}
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        written[path.rsplit("/", 1)[-1]] = self._df
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    emb = read_table(spark, SF, "embeddings")
    qz = emb.select("vec_id", F.expr(ann.quantize_expr()).alias("qv"))
    rows = [
        (r.vec_id, list(r.qv)) for r in qz.filter("vec_id < 8").collect()
    ]
    ir.write_generation(spark, emb, str(tmp_path / "idx"), 0, rows)
    p8 = written["postings8"]
    p = _plan(p8)
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "Exchange"):
        assert node not in p, f"postings write plan has {node}:\n{p}"
    size = len(p8._jdf.queryExecution().toString().encode())
    assert size < POSTINGS8_EXPLAIN_BUDGET, (
        f"postings write plan is {size} B of extended explain, budget "
        f"{POSTINGS8_EXPLAIN_BUDGET} B"
    )


# extended-explain budget (bytes) of an IVF serve over a stored index:
# the probe-and-scan kernel's plan measures ~6.6 KB; the expression
# forms it replaced (broadcast cross join + 64-term dots + windows, and
# for PQ a LUT join + grouped sum) measured ~79–99 KB
SERVE8_EXPLAIN_BUDGET = 16 << 10


@pytest.mark.parametrize("serve", ["int8", "float", "pq"])
def test_ivf_serve_scans_probed_lists_only(spark, tmp_path, serve):
    # serving a stored index pairs nothing with the centroid table,
    # scans only the probed list directories, and keeps a constant-size
    # plan
    from pyspark.sql import functions as F

    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        ivf_rebuild as ir,
    )

    if serve == "int8":
        emb = read_table(spark, SF, "embeddings")
        qz = emb.select("vec_id", F.expr(ann.quantize_expr()).alias("qv"))
        rows = [
            (r.vec_id, list(r.qv)) for r in qz.filter("vec_id < 8").collect()
        ]
        d = str(tmp_path / "idx")
        ir.write_generation(spark, emb, d, 0, rows)
        ir.commit_generation(spark, d, 0)
        cents, postings = ir.read_serve_tables(spark, d)
        out = ann.ivf_serve_topk_int8(postings, cents)
    else:
        entry = {
            "float": "emb_ivf_index_roundtrip", "pq": "emb_ivf_postings_pq",
        }[serve]
        out = catalog.QUERIES[entry](spark, SF)
    p = _plan(out)
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in p, f"serve plan has {node}:\n{p}"
    assert re.search(r"PartitionFilters: \[[^\]]*cent_id#\d+L? (=|IN) ", p), (
        f"postings scan prunes no list:\n{p}"
    )
    size = len(out._jdf.queryExecution().toString().encode())
    assert size < SERVE8_EXPLAIN_BUDGET, (
        f"serve plan is {size} B of extended explain, budget "
        f"{SERVE8_EXPLAIN_BUDGET} B"
    )


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_training_is_one_job(spark):
    # every Lloyd's trainer collects its training set once and iterates
    # on the driver: one job per call, whatever the iteration count (a
    # job per iteration plus a seed collect ran 7 here at 3 iterations)
    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )

    emb = read_table(spark, SF, "embeddings")
    rows, _ = ann.train_centroid_rows(emb, 8, 0)
    assigned = ann.kernel_assign(emb, rows)
    calls = {
        "train_centroid_rows": lambda: ann.train_centroid_rows(emb, 8, 3),
        "train_centroid_rows seed_by_rank": lambda: ann.train_centroid_rows(
            emb.filter("vec_id % 3 = 0"), 8, 3, seed_by_rank=True
        ),
        "pq_train_codebook_rows": lambda: ann.pq_train_codebook_rows(
            emb, iters=3
        ),
        "pq_train_codebook_rows_residual":
            lambda: ann.pq_train_codebook_rows_residual(
                assigned, rows, iters=3
            ),
    }
    for name, fn in calls.items():
        assert _jobs_in_group(spark, fn) == 1, name


def test_ivf_rebuild_generation_job_budget(spark, tmp_path):
    # one index generation is the training set, the centroid write and
    # the postings write; the commit and the old generation's delete are
    # file operations
    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        ivf_rebuild as ir,
    )

    emb = read_table(spark, SF, "embeddings")
    d = str(tmp_path / "idx")
    rows, _ = ann.train_centroid_rows(emb, 8, 0)
    ir.write_generation(spark, emb, d, 0, rows)
    ir.commit_generation(spark, d, 0)
    jobs = _jobs_in_group(spark, lambda: ir.rebuild_index(spark, emb, d))
    assert jobs <= 3, f"rebuild_index ran {jobs} jobs"
    assert ir.serve_generation(spark, d) == 1


# extended-explain budget (bytes) of one SGA generation: the streaming
# breed kernel's plan measures ~4.3 KB; the one-pass wide-window plan
# it replaced (max_by genome windows, a wrap-around union, lag pairing
# and the crossover expression) measured ~25 KB, both at 10,000 bits
SGA_KERNEL_EXPLAIN_BUDGET = 8 << 10


def assert_one_kernel_pass(df, budget=SGA_KERNEL_EXPLAIN_BUDGET) -> None:
    """A generation (and a tournament) is the seeded bucket exchange and
    one streaming Arrow pass: one exchange, passing ``part`` through as
    the partition id, one mapInArrow, no window, join or grouped kernel,
    and a constant-size plan (``budget`` bytes of extended explain; None
    skips the size check)."""
    p = _plan(df)
    for node in ("Window", "Join", "FlatMapGroupsInArrow"):
        assert node not in p, f"generation plan has {node}:\n{p}"
    assert p.count("Exchange") == 1, p
    assert re.search(
        r"Exchange shufflepartitionidpassthrough\("
        r"direct_shuffle_partition_id\(cast\(part#\d+L? as int\)\), \d+\)",
        p,
    ), p
    assert p.count("MapInArrow") == 1, p
    size = len(df._jdf.queryExecution().toString().encode())
    assert budget is None or size < budget, (
        f"generation plan is {size} B of extended explain, budget {budget} B"
    )


def test_sga_kernel_generation_one_exchange(spark):
    from geneticalgorithmsusingmapreduce_spark.operators import generate
    from geneticalgorithmsusingmapreduce_spark.plans import sga

    pop = sga.evaluate(
        generate.random_population(spark, 400, 10_000, seed=3), 10_000
    )
    assert_one_kernel_pass(sga.next_generation(pop, 10_000, 3, 0, n_buckets=8))
    # no size budget: the entry's lineitem-derived population adds
    # ~5 KB of extended explain to the generation's ~4.3 KB
    assert_one_kernel_pass(
        catalog.QUERIES["sga_generation"](spark, SF), budget=None
    )


@pytest.mark.parametrize("entry", ["sga_tournament", "sga_tournament_pandas"])
def test_tournament_entries_one_kernel_pass(spark, entry):
    # both tournament entries are the streaming reducer walk: the bucket
    # exchange and one mapInArrow, no window and no genome join-back
    assert_one_kernel_pass(catalog.QUERIES[entry](spark, SF), budget=None)


def test_genome_kernels_are_arrow_native(spark):
    # above LARGE_NL every numpy GA kernel moves genomes as flat Arrow
    # buffers: scalar Arrow UDFs (eval type 250, never the pandas 200)
    # and mapInArrow, no mapInPandas
    from pyspark.util import PythonEvalType

    from geneticalgorithmsusingmapreduce_spark.operators import (
        generate, mutate,
    )
    from geneticalgorithmsusingmapreduce_spark.plans import sga

    n_bits = 10_000
    pop = sga.evaluate(
        generate.random_population(spark, 64, n_bits, seed=3), n_bits
    )
    frames = {
        "evaluate": pop,
        "generation": sga.next_generation(pop, n_bits, 3, 0, 4),
        "mutation": mutate.apply_mutation(pop, n_bits, 1e-3, 3),
        "sparse mutation": mutate.apply_mutation_sparse(
            pop, n_bits, 1e-4, 3
        ),
    }
    for name, df in frames.items():
        p = _plan(df)
        assert "MapInPandas" not in p, f"{name}:\n{p}"
        types = re.findall(r"ArrowEvalPython \[.*\], (\d+)\n", p)
        assert types, f"{name} has no Arrow UDF:\n{p}"
        assert set(types) == {str(PythonEvalType.SQL_SCALAR_ARROW_UDF)}, (
            f"{name}:\n{p}"
        )


def test_durable_store_rules_live_in_store_module():
    # one owner of the durable-store rules: inside the package the
    # generation marker, its atomic create and the data-file walk
    # appear only in sources/store.py
    import pathlib

    pkg = pathlib.Path(catalog.__file__).parent
    found = {
        (str(p.relative_to(pkg)), token)
        for p in pkg.rglob("*.py")
        for token in (
            "_COMMITTED", "createNewFile", "os.walk", "os.path.getsize",
        )
        if token in p.read_text()
    }
    assert {f for f, _ in found} == {"sources/store.py"}, sorted(found)


@pytest.mark.parametrize("serve", ["float", "int8"])
def test_ivf_query_rows_skip_the_corpus_kernel(spark, monkeypatch, serve):
    # ivf_topk and ivf_topk_int8 collect their query rows from the
    # kernel over the query vectors only: in the frame _query_matrix
    # receives, the vec_id < n_queries filter sits BELOW the kernel's
    # MapInArrow, so the collect does not run the kernel over the
    # whole corpus to keep n_queries rows
    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )

    seen = []
    query_matrix = ann._query_matrix

    def capture(df):
        seen.append(df)
        return query_matrix(df)

    monkeypatch.setattr(ann, "_query_matrix", capture)
    emb = read_table(spark, SF, "embeddings")
    rows, _ = ann.train_centroid_rows(emb, 8, 0)
    if serve == "float":
        ann.ivf_topk(emb, centroid_rows=rows)
    else:
        ann.ivf_topk_int8(emb, rows)
    (queries,) = seen
    p = queries._jdf.queryExecution().optimizedPlan().toString()
    lines = p.splitlines()
    kernel = [i for i, ln in enumerate(lines) if "MapInArrow" in ln]
    query_filter = [
        i for i, ln in enumerate(lines)
        if ln.lstrip(" :+-").startswith("Filter") and "vec_id" in ln
        and " < " in ln
    ]
    assert kernel and query_filter, p
    assert min(query_filter) > max(kernel), p


def test_embedding_kernels_are_arrow_native(spark, tmp_path, monkeypatch):
    # every numpy kernel of the ANN stack and the streaming SemDeDup
    # store moves vectors as flat Arrow buffers: mapInArrow and
    # applyInArrow plans, and the trainers and a durable SemDeDup run
    # never reach a pandas kernel
    from pyspark.sql import functions as F

    from geneticalgorithmsusingmapreduce_spark.operators import ann
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )
    from geneticalgorithmsusingmapreduce_spark.streaming import (
        ivf_rebuild as ir, semdedup,
    )

    emb = read_table(spark, SF, "embeddings")
    aug = ann.augmented_embeddings(spark, SF)
    rows = [
        (r.vec_id, list(r.qv)) for r in emb.select(
            "vec_id", F.expr(ann.quantize_expr()).alias("qv")
        ).filter("vec_id < 8").collect()
    ]
    d = str(tmp_path / "idx")
    ir.write_generation(spark, emb, d, 0, rows)
    ir.commit_generation(spark, d, 0)
    cents, postings = ir.read_serve_tables(spark, d)
    assigned = ann.kernel_assign(emb, rows)
    codebook = [(m, kk, [kk] * ann.SUB_DIMS)
                for m in range(ann.M_SUB) for kk in range(ann.K_CODES)]
    codes = ann.pq_encode(assigned, codebook, rows)
    frames = {
        "encode_postings_int8": ann.encode_postings_int8(emb, rows),
        "ivf_serve_topk_int8": ann.ivf_serve_topk_int8(postings, cents),
        "ivf_serve_topk": ann.ivf_serve_topk(assigned, cents),
        "pq_serve_topk": ann.pq_serve_topk(
            codes, cents,
            spark.createDataFrame(codebook, ann.CODEBOOK_SCHEMA),
            ann.query_rows(emb), plus_centroid_dot=True,
        ),
        "kmeans_cluster_stats": ann.kmeans_cluster_stats(
            emb, centroid_rows=rows
        ),
        "kernel_assign": assigned,
        "pq_encode": codes,
        "quantize_bucket_norm": ann.quantize_bucket_norm(emb, 7),
        "topk_dot_numpy": ann.topk_dot_numpy(emb),
        "semantic_cluster_pairs": ann.semantic_cluster_pairs(aug, 700),
        "semantic_cluster_pairs capped": ann.semantic_cluster_pairs(
            aug, 700, n_centroids=16, cap=24
        ),
    }
    for name, df in frames.items():
        p = _plan(df)
        for node in ("MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in p, f"{name} has {node}:\n{p}"
        assert "InArrow" in p, f"{name} has no Arrow kernel:\n{p}"
    assert "FlatMapGroupsInArrow" in _plan(
        frames["semantic_cluster_pairs capped"]
    )

    def pandas_kernel(*args, **kwargs):
        raise AssertionError("pandas kernel")

    monkeypatch.setattr(type(emb), "mapInPandas", pandas_kernel)
    monkeypatch.setattr(
        type(emb.groupBy("vec_id")), "applyInPandas", pandas_kernel
    )
    cent_rows, _ = ann.train_centroid_rows(emb, 8, 2)
    ann.pq_train_codebook_rows(emb, iters=1)
    ann.pq_train_codebook_rows_residual(assigned, rows, iters=1)
    st = semdedup.start_streaming_semdedup_durable(
        spark, aug, str(tmp_path / "sd"), n_batches=2,
        sketch_read_min_bytes=0,
    )
    assert st.batches_done == 2 and st.history[1]["sketch_bytes_read"] > 0
