"""r10 extensions: BM25 ranked retrieval + SemDeDup cluster-restricted
semantic near-dup."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.operators import ann, textops

SF = "/root/testdata/sf0.001"


def _bm25_expected(docs: list[tuple[int, str]], terms: list[str], k: int):
    """Reference recompute in plain Python doubles — same association,
    same per-term int64 quantization as both engines."""
    toked = {
        d: [t for t in txt.lower().split(" ") if t] for d, txt in docs
    }
    n = len(docs)
    total = sum(len(t) for t in toked.values())
    avgdl = float(total) / n
    scores = {}
    for i, term in enumerate(terms):
        df = sum(1 for t in toked.values() if term in t)
        idf = math.floor(
            1_000_000.0 * math.log(
                1.0 + (float(n - df) + 0.5) / (float(df) + 0.5)
            ) + 0.5
        )
        for d, t in toked.items():
            tf = t.count(term)
            if tf == 0:
                continue
            dl = len(t)
            sat = (float(tf) * (1.2 + 1.0)) / (
                float(tf) + 1.2 * (1.0 - 0.75 + 0.75 * (float(dl) / avgdl))
            )
            scores[d] = scores.get(d, 0) + math.floor(idf * sat + 0.5)
    ranked = sorted(
        ((d, s) for d, s in scores.items() if s > 0),
        key=lambda x: (-x[1], x[0]),
    )
    return ranked[:k]


def test_bm25_matches_reference_recompute(spark):
    docs = [
        (0, "spark merge window merge merge"),
        (1, "the the the the the the the the the the spark"),
        (2, "window window spark"),
        (3, "vector stream data"),
        (4, "no match here"),
        (5, ""),
        (6, "merge"),
    ]
    terms = ["merge", "window", "absentterm"]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r.doc_id, r.score_micro)
        for r in textops.bm25_topk(df, terms, 3).collect()
    ]
    assert got == _bm25_expected(docs, terms, 3)


def test_bm25_tie_break_and_k_bound(spark):
    # identical docs tie exactly in score → doc_id ascending decides
    docs = [(i, "merge data") for i in range(5)] + [(9, "other")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = textops.bm25_topk(df, ["merge"], 3).collect()
    assert [r.doc_id for r in got] == [0, 1, 2]
    assert len({r.score_micro for r in got}) == 1


def test_bm25_plan_is_mapside_no_wide_exchange(spark):
    # the whole retrieval must be scan → scalar stats → broadcast →
    # TakeOrdered: no hash-partitioned exchange anywhere (no posting
    # shuffle), top-k without a global sort
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )

    df = textops.bm25_topk(
        read_table(spark, SF, "documents").select("doc_id", "text"),
        ["vector", "stream"], 10,
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "hashpartitioning" not in p
    assert "BroadcastExchange" in p


def test_semdedup_subset_of_exact_and_finds_plants(spark):
    aug = ann.augmented_embeddings(spark, SF)
    sem = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann.semantic_cluster_pairs(aug).collect()
    }
    exact = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann.exact_cosine_pairs(aug).collect()
    }
    # the cluster restriction can only DROP pairs, never invent them
    assert sem <= exact
    # planted perturbed copies are ~colinear with their source — the
    # clustering must keep most of them co-located
    plants = {p for p in sem if p[1] == p[0] + 1_000_000}
    assert len(plants) > 0


def test_semdedup_engine_parity_nondefault_params(spark):
    # gate pins C=8/iters=2; pin the PARAMETERIZATION too (a hardcoded
    # constant in either dialect would pass the gate and fail here)
    import duckdb

    aug = ann.augmented_embeddings(spark, SF)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    got = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann.semantic_cluster_pairs(
            aug, tau_milli=700, n_centroids=4, iters=1
        ).collect()
    }
    duck = {
        tuple(r) for r in con.sql(
            "SELECT * FROM " + ann.duck_semantic_cluster_pairs_sql(
                tau_milli=700, n_centroids=4, iters=1
            ) + " _q"
        ).fetchall()
    }
    assert got == duck
    assert len(got) > 0


def test_semdedup_sampled_training_parity_and_cap_invariance(spark):
    # the sampled-training fallback rung (r11 VERDICT #4): training on
    # the vec_id % m slice with EXACT assignment must replay
    # symbolically via train_filter — and the skew cap must stay
    # physical-only (byte-identical output with and without it)
    import duckdb

    aug = ann.augmented_embeddings(spark, SF)
    got = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann.semantic_cluster_pairs(aug, train_mod=4).collect()
    }
    capped = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann.semantic_cluster_pairs(
            aug, train_mod=4, cap=8
        ).collect()
    }
    assert capped == got
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    duck = {
        tuple(r) for r in con.sql(
            "SELECT * FROM " + ann.duck_semantic_cluster_pairs_sql(
                train_filter="vec_id % 4 = 0"
            ) + " _q"
        ).fetchall()
    }
    assert got == duck
    assert len(got) > 0


def test_semdedup_train_mod_warns_only_on_explicit_false(spark):
    # train_mod implies rank seeds: the registered sampled config sets
    # no seed_by_rank and must build silently; only an explicit False,
    # which train_mod overrides, warns
    import warnings

    import pytest

    from geneticalgorithmsusingmapreduce_spark import catalog

    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        catalog.dedup_semantic_semdedup_sampled(spark, SF)
    assert not [w for w in seen if issubclass(w.category, UserWarning)]
    with pytest.warns(UserWarning, match="seed_by_rank=False"):
        ann.semantic_cluster_pairs(
            ann.augmented_embeddings(spark, SF), train_mod=4,
            seed_by_rank=False,
        )


def test_centroids_for_count_rule():
    # fixed target cluster size: C grows linearly with the corpus, so
    # in-cluster pairwise work stays n·K/2 and each group's K×K dot
    # block is a bounded working set
    assert ann.centroids_for_count(100) == 8
    assert ann.centroids_for_count(220_000) == 1024
    assert ann.centroids_for_count(2_200_000) == 8192


def test_semdedup_ships_each_vector_once(spark):
    # the SemDeDup scale property: ONE exchange keyed on cent_id (each
    # vector ships once to its cluster's partition), the pairwise block
    # inside a grouped Arrow kernel — candidate PAIRS never cross an
    # exchange
    aug = ann.augmented_embeddings(spark, SF)
    df = ann.semantic_cluster_pairs(aug)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in p
    assert p.count("hashpartitioning(cent_id") == 1


def _logppl_expected(docs: list[tuple[int, str]]):
    toked = {
        d: [t for t in txt.lower().split(" ") if t] for d, txt in docs
    }
    cnt: dict[str, int] = {}
    for t in toked.values():
        for tok in t:
            cnt[tok] = cnt.get(tok, 0) + 1
    total = sum(cnt.values())
    logp = {
        t: math.floor(1_000_000.0 * math.log(float(c) / float(total)) + 0.5)
        for t, c in cnt.items()
    }
    out = {}
    for d, t in toked.items():
        if not t:
            continue
        s = -sum(logp[tok] for tok in t)
        out[d] = (len(t), s, s // len(t))
    return out


def test_unigram_logppl_matches_reference_recompute(spark):
    docs = [
        (0, "the the the spark"),
        (1, "rare unique tokens here"),
        (2, "the the"),
        (3, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_toks, r.nll_sum_micro, r.avg_nll_micro)
        for r in textops.unigram_logppl(df).collect()
    }
    assert got == _logppl_expected(docs)
    # boilerplate (all head tokens) must score LOWER surprise than the
    # all-rare-token doc — the signal the quality filter keys on
    assert got[0][2] < got[1][2]


def test_diversity_sample_quota_and_determinism(spark):
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )

    emb = read_table(spark, SF, "embeddings").select("vec_id", "embedding")
    s1 = ann.cluster_balanced_sample(emb, per_cluster=5, n_centroids=4)
    rows = s1.collect()
    got = {(r.vec_id, r.cent_id, r.rk) for r in rows}
    # per-cluster quota holds; ranks are 1..quota dense per cluster
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cent_id, []).append(r.rk)
    for c, rks in by_cluster.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 5
    # deterministic: the draw is a pure function of (corpus, seed)
    s2 = ann.cluster_balanced_sample(emb, per_cluster=5, n_centroids=4)
    assert {(r.vec_id, r.cent_id, r.rk) for r in s2.collect()} == got


def test_diversity_sample_engine_parity_nondefault_params(spark):
    import duckdb

    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )

    emb = read_table(spark, SF, "embeddings").select("vec_id", "embedding")
    got = {
        (r.vec_id, r.cent_id, r.rk)
        for r in ann.cluster_balanced_sample(
            emb, per_cluster=3, n_centroids=4, iters=1, seed=5
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    duck = {
        tuple(r) for r in con.sql(
            "SELECT * FROM " + ann.duck_cluster_balanced_sample_sql(
                per_cluster=3, n_centroids=4, iters=1, seed=5
            ) + " _q"
        ).fetchall()
    }
    assert got == duck
    assert len(got) > 0


def test_semdedup_fast_rung_certificate_and_recall(spark):
    # the approximate-assignment rung: same exact integer certificate
    # (every emitted pair is a true cosine>=tau pair), recall traded at
    # cluster boundaries and MEASURED, not assumed
    aug = ann.augmented_embeddings(spark, SF)
    n = aug.count()
    fast = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann.semantic_cluster_pairs_fast(
            aug, n_centroids=8, iters=2, n_vecs=n
        ).collect()
    }
    truth = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann.exact_cosine_pairs(aug).collect()
    }
    assert fast <= truth  # never invents a pair
    exact_rung = {
        (r.vec_a, r.vec_b, r.dot, r.na2, r.nb2)
        for r in ann.semantic_cluster_pairs(aug).collect()
    }
    # two-level probing keeps the bulk of the exact rung's pairs
    assert len(fast & exact_rung) >= 0.8 * len(exact_rung)


def test_semdedup_balanced_output_invariant_and_triggers(spark):
    # the skew bound (r10 VERDICT #2): clusters over `cap` rows sweep as
    # P(P+1)/2 block-pair groups — the OUTPUT must be byte-identical to
    # the monolithic sweep (each unordered pair lands in exactly one
    # block group), and at these dials the decomposition must actually
    # fire (a cap nothing exceeds would test nothing)
    aug = ann.augmented_embeddings(spark, SF)
    cap = 8
    rows, _ = ann.train_centroid_rows(aug, 8, 2, compute_inertia=False)
    base = ann.kernel_assign(aug, rows).filter(F.col("n2") > 0)
    sizes = base.groupBy("cent_id").count().collect()
    assert max(r["count"] for r in sizes) > cap  # decomposition fires
    mono = {
        tuple(r) for r in
        ann._cluster_pairs_from_assign(base, 800).collect()
    }
    balanced = {
        tuple(r) for r in
        ann._cluster_pairs_from_assign(base, 800, cap=cap).collect()
    }
    assert balanced == mono
    assert len(mono) > 0


def test_semdedup_balanced_bounds_group_rows(spark):
    # physical shape: with the bound, no block-pair group materializes
    # more than ~2·cap rows (one part per side; parts are hash-split so
    # allow slack), vs the unbounded hot cluster's full K
    import pandas as pd

    aug = ann.augmented_embeddings(spark, SF)
    cap = 8
    rows, _ = ann.train_centroid_rows(aug, 8, 2, compute_inertia=False)
    base = ann.kernel_assign(aug, rows).filter(F.col("n2") > 0)
    hot = {
        int(r["cent_id"]): -(-int(r["n"]) // cap)
        for r in base.groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap).collect()
    }
    assert hot  # at cap=8 the gate corpus has hot clusters
    # replicate the split/explode plan and measure group sizes
    pmap = F.create_map(*[F.lit(x) for kv in hot.items() for x in kv])
    split = base.withColumn(
        "np", F.coalesce(pmap[F.col("cent_id")], F.lit(1))
    ).withColumn("part", F.pmod(F.xxhash64("vec_id"), F.col("np")))
    blocks = split.select(
        "cent_id", "part",
        F.explode(F.expr(
            "transform(sequence(0, np - 1), q -> "
            "struct(least(part, q) AS bi, greatest(part, q) AS bj))"
        )).alias("blk"),
    ).groupBy("cent_id", "blk.bi", "blk.bj").count().collect()
    k_max = max(int(r["count"]) for r in blocks)
    hot_k = max(
        int(r["count"]) for r in base.groupBy("cent_id").count().collect()
    )
    # hash parts are uneven on tiny groups; 4x cap is still far below
    # the unbounded hot cluster
    assert k_max <= 4 * cap
    assert k_max < hot_k


def test_bm25_term_escaping():
    import pytest as _pytest

    assert textops._bm25_term("o'brien") == "o''brien"
    with _pytest.raises(ValueError):
        textops._bm25_term("two words")
    # backslash diverges between the engines' literal parsers (r11
    # ADVICE) — rejected, not half-escaped
    with _pytest.raises(ValueError):
        textops._bm25_term("a\\b")


def test_sampled_training_is_the_documented_default():
    # r12 VERDICT #4 pointer test: the operator docstring must steer
    # users to train_mod (sampled training, exact assignment) as the
    # at-scale default, the catalog must register the sampled config,
    # and the flat entry must label itself as the baseline
    from geneticalgorithmsusingmapreduce_spark import catalog
    from geneticalgorithmsusingmapreduce_spark.operators import ann

    doc = ann.semantic_cluster_pairs.__doc__
    assert "OPERATOR GUIDANCE" in doc and "train_mod" in doc
    assert "production default" in doc
    assert "dedup_semantic_semdedup_sampled" in catalog.QUERIES
    flat_doc = catalog.QUERIES["dedup_semantic_semdedup"].__doc__
    assert "BASELINE" in flat_doc
    assert "dedup_semantic_semdedup_sampled" in flat_doc
