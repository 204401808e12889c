"""Lloyd's k-means centroid training for IVF (operators/ann.py):
inertia must be monotonically non-increasing, trained centroids must
plug into ivf_topk, and the trained index must not lose recall against
the deterministic seed centroids."""

from __future__ import annotations

from geneticalgorithmsusingmapreduce_spark.operators import ann
from geneticalgorithmsusingmapreduce_spark.sources.registry import read_table

SF = "/root/testdata/sf0.001"


def test_kmeans_inertia_monotone_and_ivf_pluggable(spark):
    emb = read_table(spark, SF, "embeddings")
    rows, hist = ann.train_centroid_rows(emb, n_centroids=8, iters=3)
    assert len(hist) == 3
    # quantized Lloyd's (integer-rounded centroids) is not strictly
    # non-increasing step-to-step, and the driver regenerates the
    # embeddings fixture each round — so assert the property training
    # actually needs (net improvement) plus a loose 0.1% per-step slack
    assert hist[-1] <= hist[0]
    assert all(b <= a * 1.001 for a, b in zip(hist, hist[1:]))

    assert len(rows) == 8 and all(len(cv) == ann.DIMS for _, cv in rows)
    # one Lloyd's loop trains both models: PQ over one subspace of all
    # DIMS with the same seeds (vec_id < 8) is this k-means
    pq = ann.pq_train_codebook_rows(emb, m_sub=1, k_codes=8, iters=3)
    assert [cw for _, _, cw in pq] == [cv for _, cv in sorted(rows)]

    out = ann.ivf_topk(emb, centroid_rows=rows)
    got = out.groupBy("query_id").count().collect()
    assert len(got) == 5 and all(r["count"] == 10 for r in got)

    # recall vs exact top-10: trained lists must match or beat the
    # first-C seed centroids (both probe 2 of 8 lists)
    exact = {
        (r.query_id, r.vec_id)
        for r in ann.topk_dot(emb).collect()
    }
    trained = {(r.query_id, r.vec_id) for r in out.collect()}
    seeded = {
        (r.query_id, r.vec_id) for r in ann.ivf_topk(emb).collect()
    }
    assert len(trained & exact) >= len(seeded & exact)


def test_trained_centroid_cache_shared_across_entries(spark, monkeypatch):
    # the three trained-model entries (trained IVF, cluster stats,
    # recall) must consume ONE training run per (dataset, C, iters)
    from geneticalgorithmsusingmapreduce_spark import catalog

    catalog._CENTROID_CACHE.clear()
    calls = {"n": 0}
    real = ann.train_centroid_rows

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(ann, "train_centroid_rows", counting)
    try:
        for name in ("emb_ivf_topk_trained", "emb_kmeans_clusters",
                     "emb_ivf_recall"):
            catalog.QUERIES[name](spark, SF).collect()
        assert calls["n"] == 1
        # cached rows are plain session-independent python ints
        rows = catalog.trained_centroid_rows(spark, SF)
        assert len(rows) == 8 and all(
            isinstance(x, int) for _, cv in rows for x in cv
        )
        assert calls["n"] == 1
    finally:
        catalog._CENTROID_CACHE.clear()


def test_ivf_index_artifact_layout_and_roundtrip(spark, tmp_path):
    # the durable index: postings parquet partitioned by cent_id (the
    # probe-prunable layout) and a lossless int64-array round trip
    from pyspark.sql import functions as F

    emb = read_table(spark, SF, "embeddings")
    rows, _ = ann.train_centroid_rows(emb, n_centroids=8, iters=3,
                                      compute_inertia=False)
    cents = ann.centroid_frame(spark, rows)
    assigned = ann.kernel_assign(emb, rows).select("vec_id", "qv", "cent_id")
    d = str(tmp_path / "idx")
    assigned.write.partitionBy("cent_id").parquet(d)
    import os

    parts = sorted(p for p in os.listdir(d) if p.startswith("cent_id="))
    assert parts and len(parts) <= 8  # one dir per non-empty list
    back = spark.read.parquet(d).select(
        "vec_id", "qv", F.col("cent_id").cast("long").alias("cent_id")
    )
    # round trip is exact: same (vec_id, cent_id) pairs, same qv ints
    a = {(r.vec_id, r.cent_id, tuple(r.qv)) for r in assigned.collect()}
    b = {(r.vec_id, r.cent_id, tuple(r.qv)) for r in back.collect()}
    assert a == b
    # serve over the reloaded index == serve over the live assignment
    live = {(r.query_id, r.rank, r.vec_id)
            for r in ann.ivf_serve_topk(assigned, cents).collect()}
    stored = {(r.query_id, r.rank, r.vec_id)
              for r in ann.ivf_serve_topk(back, cents).collect()}
    assert live == stored


# --- product quantization -------------------------------------------------

def test_pq_codebooks_shape_and_codes_in_range(spark):
    emb = read_table(spark, SF, "embeddings")
    rows = ann.pq_train_codebook_rows(emb)
    assert len(rows) == ann.M_SUB * ann.K_CODES
    assert all(len(cw) == ann.SUB_DIMS for _, _, cw in rows)
    assert sorted({m for m, _, _ in rows}) == list(range(ann.M_SUB))
    cents, _ = ann.train_centroid_rows(emb, compute_inertia=False)
    codes = ann.pq_encode(ann.kernel_assign(emb, cents), rows).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r.codes) == ann.M_SUB
        assert all(0 <= c < ann.K_CODES for c in r.codes)


def test_pq_rerank_recovers_recall(spark):
    # the precision ladder's closing property: ADC-shortlist + exact
    # re-rank must reach at least the pure-PQ recall, and the re-ranked
    # ranking must carry EXACT dots (equal to brute force on the hits)
    emb = read_table(spark, SF, "embeddings")
    cents, _ = ann.train_centroid_rows(emb, compute_inertia=False)
    rows = ann.pq_train_codebook_rows(emb)
    exact = {(r.query_id, r.vec_id): r.dot for r in ann.topk_dot(emb).collect()}
    pure = {(r.query_id, r.vec_id)
            for r in ann.ivf_topk_pq(emb, cents, rows).collect()}
    rr = {(r.query_id, r.vec_id): r.dot
          for r in ann.pq_topk_rerank(emb, cents, rows).collect()}
    assert len(set(exact) & set(rr)) >= len(set(exact) & pure)
    for key in set(exact) & set(rr):
        assert exact[key] == rr[key]  # re-rank scores are exact dots


def test_pq_non_default_m_sub_slices_queries_correctly(spark):
    # pq_serve_topk takes sub_dims from the codebook, as the rest of
    # the PQ stack parameterizes on m_sub: a module-level SUB_DIMS would
    # silently mis-slice query subvectors of a codebook trained with
    # non-default m_sub. Pin the ADC dots against a driver-side numpy
    # recomputation at m_sub=4.
    import numpy as np
    from pyspark.sql import functions as F

    emb = read_table(spark, SF, "embeddings")
    cents, _ = ann.train_centroid_rows(emb, compute_inertia=False)
    m_sub = 4
    rows = ann.pq_train_codebook_rows(emb, m_sub=m_sub)
    sub_dims = ann.DIMS // m_sub
    assert all(len(cw) == sub_dims for _, _, cw in rows)
    out = ann.ivf_topk_pq(emb, cents, rows).collect()
    assert out
    qz_df = emb.select("vec_id", F.expr(ann.quantize_expr()).alias("qv"))
    qz = {r.vec_id: np.asarray(r.qv, dtype=np.int64)
          for r in qz_df.collect()}
    codes = {
        r.vec_id: list(r.codes)
        for r in ann.pq_encode(ann.kernel_assign(emb, cents), rows).collect()
    }
    cb = {(m, c): np.asarray(cw, dtype=np.int64) for m, c, cw in rows}
    for r in out:
        q = qz[r.query_id]
        expect = sum(
            int(q[m * sub_dims:(m + 1) * sub_dims]
                @ cb[(m, codes[r.vec_id][m])])
            for m in range(m_sub)
        )
        assert r.adot == expect, (r.query_id, r.vec_id)


# --- the bounded training set ---------------------------------------------

def _sampled_corpus(spark, tmp_path, n=3_000):
    """A seeded n × DIMS corpus above the K = 8 training bound
    (MAX_POINTS_PER_CODE · 8 = 2,048 rows), written in shuffled vec_id
    order, as a Spark frame and a DuckDB connection with the same
    ``embeddings`` view."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(14)
    x = rng.uniform(-1, 1, (n, ann.DIMS)).astype(np.float32)
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(rng.permutation(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * ann.DIMS, ann.DIMS, np.int32)),
            pa.array(x.reshape(-1)),
        ),
    }), path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    return spark.read.parquet(path), con


def test_sampled_training_matches_duckdb_replay(spark, tmp_path):
    # above MAX_POINTS_PER_CODE·K rows every trainer iterates on the
    # seeded hash sample, and the DuckDB replays draw the same one: the
    # final models and the inertia over the sample equal row for row
    emb, con = _sampled_corpus(spark, tmp_path)
    k, iters = 8, 3
    limit = ann.MAX_POINTS_PER_CODE * k
    sq = " + ".join(
        f"(a.qv[{j}] - c.cv[{j}]) * (a.qv[{j}] - c.cv[{j}])"
        for j in range(1, ann.DIMS + 1)
    )
    cases = {
        "vec_id < C seeds": (emb, False, None),
        "rank seeds": (emb, True, "TRUE"),
        "train_filter slice": (
            emb.filter("vec_id % 10 <> 3"), True, "vec_id % 10 <> 3",
        ),
    }
    for name, (src, by_rank, train_filter) in cases.items():
        rows, hist = ann.train_centroid_rows(
            src, k, iters, seed_by_rank=by_rank
        )
        ctes, prev = ann._duck_kmeans_ctes(
            k, iters, train_filter=train_filter
        )
        head = "WITH " + ",\n".join(ctes)
        assert con.sql(f"{head} SELECT count(*) FROM qzt").fetchone() == (
            limit,
        ), name
        want = con.sql(
            f"{head} SELECT cent_id, cv FROM {prev} ORDER BY cent_id"
        ).fetchall()
        assert [(c, list(cv)) for c, cv in want] == sorted(rows), name
        want_hist = [
            float(con.sql(
                f"{head} SELECT sum({sq}) FROM ag{i} a "
                f"JOIN {'cents' + str(i - 1)} c USING (cent_id)"
            ).fetchone()[0])
            for i in range(1, iters + 1)
        ]
        assert hist == want_hist, name

    m_sub, pq_iters = ann.M_SUB, 2
    pq_ctes, cb = ann._duck_pq_ctes(m_sub, k, pq_iters)
    qz = (
        f"qz AS (SELECT vec_id, {ann._duck_qlist('embedding')} AS qv "
        f"FROM embeddings)"
    )
    head = "WITH " + ",\n".join([qz] + pq_ctes)
    assert con.sql(f"{head} SELECT count(*) FROM pqt").fetchone() == (limit,)
    want = con.sql(
        f"{head} SELECT sub, code, cw FROM {cb} ORDER BY sub, code"
    ).fetchall()
    got = ann.pq_train_codebook_rows(emb, m_sub, k, pq_iters)
    assert [(s, c, list(cw)) for s, c, cw in want] == got
