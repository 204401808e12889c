"""IVF generation lifecycle (streaming/ivf_rebuild.py): atomic
marker-file commit, serve continuity through a rebuild, rebuild ≡
from-scratch build; and the IVF encode and serve kernels against the
DuckDB SQL the oracles replay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.operators import ann
from geneticalgorithmsusingmapreduce_spark.sources import store
from geneticalgorithmsusingmapreduce_spark.sources.registry import read_table
from geneticalgorithmsusingmapreduce_spark.streaming import ivf_rebuild as ir

SF = "/root/testdata/sf0.001"


def _serve_rows(spark, d):
    cents, postings = ir.read_serve_tables(spark, d)
    return {
        tuple(r)
        for r in ann.ivf_serve_topk_int8(postings, cents).collect()
    }


def test_generation_swap_serve_continuity(spark, tmp_path):
    # the lifecycle contract: an uncommitted generation is INVISIBLE;
    # the old generation serves bit-identically until the marker lands;
    # the swap is the marker create alone; deleting the superseded
    # generation never disturbs the serve output
    emb = read_table(spark, SF, "embeddings")
    d = str(tmp_path / "idx")

    # no committed generation yet → serving must fail loudly
    with pytest.raises(FileNotFoundError):
        ir.serve_generation(spark, d)

    # gen 0: first-C-seeded centroids (the ivf_topk baseline quantizer)
    qz = emb.select("vec_id", F.expr(ann.quantize_expr()).alias("qv"))
    seed_rows = [
        (int(r.vec_id), [int(x) for x in r.qv])
        for r in qz.filter("vec_id < 8").collect()
    ]
    ir.write_generation(spark, emb, d, 0, seed_rows)
    with pytest.raises(FileNotFoundError):
        ir.serve_generation(spark, d)  # written but NOT committed
    ir.commit_generation(spark, d, 0)
    assert ir.serve_generation(spark, d) == 0
    gen0 = _serve_rows(spark, d)

    # gen 1 written (trained quantizer) — old generation still serves
    trained_rows, _ = ann.train_centroid_rows(
        emb, n_centroids=8, iters=3, compute_inertia=False
    )
    ir.write_generation(spark, emb, d, 1, trained_rows)
    assert ir.serve_generation(spark, d) == 0
    assert _serve_rows(spark, d) == gen0

    # the swap is one atomic marker create
    ir.commit_generation(spark, d, 1)
    assert ir.serve_generation(spark, d) == 1
    gen1 = _serve_rows(spark, d)
    assert gen1 != gen0  # trained quantizer changes probe/serve sets

    # deleting the superseded generation is a separate post-swap step
    ir.delete_generation(spark, d, 0)
    assert ir.committed_generations(spark, d) == [1]
    assert _serve_rows(spark, d) == gen1

    # double-commit is an error, not a silent overwrite
    with pytest.raises(FileExistsError):
        ir.commit_generation(spark, d, 1)


def test_rebuild_matches_from_scratch_build(spark, tmp_path):
    # rebuild_index over a drifted gen-0 index must serve EXACTLY what
    # a from-scratch trained build serves (the oracle also pins this
    # cross-engine; here we pin it Spark-vs-Spark without the stream)
    emb = read_table(spark, SF, "embeddings")
    d = str(tmp_path / "idx")
    qz = emb.select("vec_id", F.expr(ann.quantize_expr()).alias("qv"))
    seed_rows = [
        (int(r.vec_id), [int(x) for x in r.qv])
        for r in qz.filter("vec_id < 8").collect()
    ]
    ir.write_generation(spark, emb, d, 0, seed_rows)
    ir.commit_generation(spark, d, 0)

    assert ir.rebuild_index(spark, emb, d, n_centroids=8, iters=3) == 1
    # the centroid table is one file: one write task, one read task
    assert store.data_stats(f"{ir.gen_dir(d, 1)}/centroids")["files"] == 1
    rebuilt = _serve_rows(spark, d)

    rows, _ = ann.train_centroid_rows(
        emb, n_centroids=8, iters=3, compute_inertia=False
    )
    scratch = {
        tuple(r) for r in ann.ivf_topk_int8(emb, rows).collect()
    }
    assert rebuilt == scratch


def test_append_alarm_rebuild_composed(spark, tmp_path, skewed_embeddings):
    # r10 VERDICT #6: append → skew alarm → retrain → atomic generation
    # swap, all inside ONE foreachBatch maintenance path. Batch 0 is
    # diverse (trains a spread quantizer); batches 1-2 pile onto one
    # region, driving max/mean list skew over the threshold.
    from geneticalgorithmsusingmapreduce_spark.streaming import ivf_append

    emb = skewed_embeddings
    idx = str(tmp_path / "genidx")
    st = ivf_append.start_ivf_append(
        spark, emb, idx, n_batches=3, n_centroids=4, iters=2,
        rebuild_skew=1.5,
    )
    # the alarm fired and triggered at least one in-stream rebuild
    assert st.rebuilds, st.history
    # mid-rebuild, readers still resolved the OLD generation (the
    # uncommitted N+1 directory is invisible until the marker lands)
    for (b, old, new, skew), seen in zip(st.rebuilds, st.mid_rebuild_serve):
        assert seen == old
        assert skew > 1.5
    # deletion is DEFERRED past the committing batch (r11 ADVICE: an
    # in-flight reader of generation N must survive N+1's commit): any
    # in-stream GC ran at a strictly later batch than the rebuild that
    # superseded the generation it removed
    gc_batch = {gen: b for b, gen in st.gc_done}
    for b, old, new, skew in st.rebuilds:
        if old in gc_batch:
            assert gc_batch[old] > b, (st.rebuilds, st.gc_done)
    # a generation superseded in the FINAL batch is still on disk —
    # draining pending_gc is the caller's explicit post-stream GC step
    for gen in st.pending_gc:
        assert gen in ir.committed_generations(spark, idx)
        ir.delete_generation(spark, idx, gen)
    # post-GC: exactly the latest generation is committed, the old
    # ones are deleted, and serving resolves the new one
    assert ir.committed_generations(spark, idx) == [st.gen]
    assert ir.serve_generation(spark, idx) == st.gen
    assert st.gen == st.rebuilds[-1][2]
    # no vector lost across the swap: the final generation's postings
    # hold every ingested vec_id exactly once
    cents, postings = ir.read_serve_tables(spark, idx)
    got = sorted(r.vec_id for r in postings.select("vec_id").collect())
    want = sorted(r.vec_id for r in emb.select("vec_id").collect())
    assert got == want
    # and the index serves: top-k against the new generation works
    res = ann.ivf_serve_topk_int8(postings, cents, n_queries=2, k=5)
    byq = {}
    for r in res.collect():
        byq.setdefault(r.query_id, []).append(r)
    assert byq and all(len(v) == 5 for v in byq.values())


def _edge_table(spark):
    """Embeddings and centroid rows that hit every corner of the int8
    encode: an all-zero vector (scale clamps to 1, and all dots tie),
    a vector whose dots with centroids 3 and 5 tie exactly (3 must
    win), components at ±0.577, and negative components on both
    rounding boundaries — -1/128 quantizes from exactly -7812.5, and
    against a 127/32 scale, -1/64 and -5/64 are exactly 0.5 and 2.5 in
    int8 units, where half-up and half-to-even rounding differ — then
    random vectors so small Arrow batches split the table."""
    import numpy as np

    d = ann.DIMS
    tie = [0.0] * d
    tie[0] = tie[1] = 0.25
    half = [0.0] * d
    half[:5] = [3.96875, -0.015625, -0.078125, 0.078125, -0.0078125]
    rng = np.random.default_rng(7)
    vecs = [
        [0.0] * d,
        tie,
        [0.577 if j % 2 == 0 else -0.577 for j in range(d)],
        half,
    ] + rng.uniform(-1, 1, size=(36, d)).astype(np.float32).tolist()
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )

    def axis(j):
        v = [0] * d
        v[j] = 250_000
        return v

    # deliberately out of cent_id order: the kernel must sort them
    cents = [
        (5, axis(1)), (3, axis(0)), (7, axis(2)),
        (1, rng.integers(-1000, 1000, size=d).tolist()),
    ]
    return emb, cents


def _p8_rows(df):
    return sorted(
        (r.vec_id, r.cent_id, tuple(r.v8), r.scale) for r in df.collect()
    )


def test_encode_postings_int8_matches_duckdb_twin(spark):
    # the Spark encode kernel and the DuckDB int8 SQL the oracles replay
    # must agree bit for bit, over the DuckDB assignment (_duck_asgn_cte)
    import duckdb

    emb, cents = _edge_table(spark)
    got = _p8_rows(ann.encode_postings_int8(emb, cents))

    con = duckdb.connect()
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO emb VALUES (?, ?)",
        [(r.vec_id, list(r.embedding)) for r in emb.collect()],
    )
    con.execute("CREATE TABLE cents (cent_id BIGINT, cv BIGINT[])")
    con.executemany("INSERT INTO cents VALUES (?, ?)", cents)
    con.execute(
        f"CREATE TABLE asgn AS WITH qz AS (SELECT vec_id, "
        f"{ann._duck_qlist('embedding')} AS qv FROM emb), "
        f"{ann._duck_asgn_cte('cents')} SELECT * FROM asgn"
    )
    want = sorted(
        (v, c, tuple(v8), s) for v, c, v8, s in con.sql(
            f"SELECT vec_id, cent_id, {ann._v8_sql('qv', 'scale')}, scale "
            f"FROM (SELECT *, {ann._scale_sql('qv')} AS scale FROM asgn)"
        ).fetchall()
    )
    assert got == want

    qv = dict(con.sql("SELECT vec_id, qv FROM asgn").fetchall())
    by_id = {r[0]: r for r in got}
    assert by_id[0][1:] == (1, (0,) * ann.DIMS, 1)  # clamp; tie to 1
    assert by_id[1][1] == 3  # exact tie between 3 and 5
    # the boundaries really are hit: 127·15625/3968750 = 0.5 and
    # 127·78125/3968750 = 2.5 round away from zero, and
    # q = floor(-7812.5 + 0.5)
    assert qv[3][:5] == [3_968_750, -15_625, -78_125, 78_125, -7812]
    assert by_id[3][2][:5] == (127, -1, -3, 3, 0)

    assert ann.encode_postings_int8(emb.limit(0), cents).collect() == []

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert _p8_rows(ann.encode_postings_int8(emb, cents)) == got
    finally:
        spark.conf.set(key, prev)


def _serve_edge_tables():
    """int8 postings and centroids that hit every corner of the serve:
    query 0's second probe ties between lists 4 and 6 (4 must win; list
    6 holds the best vector), query 2's first probe ties between the
    same two, query 1 alone fills list 8, vectors 10 and 11 tie on sdot
    for query 0 (10 must win), and query 0 and 2 sit in probed lists.
    Vectors 100+ score 0 against every query, so they tie among
    themselves and split small Arrow batches."""
    import numpy as np

    def vec(*head):
        return list(head) + [0] * (ann.DIMS - len(head))

    rng = np.random.default_rng(11)
    rows = [
        (0, 2, vec(10, 5), 7), (10, 2, vec(3), 10), (11, 2, vec(1), 30),
        (12, 2, vec(2, 1), 5), (20, 4, vec(0, 4), 10), (21, 4, vec(1, 1), 3),
        (30, 6, vec(0, 8), 100), (1, 8, vec(0, 0, 7), 3),
        (2, 4, vec(0, 9), 2),
    ] + [
        (100 + i, [2, 4, 6][i % 3],
         [0, 0, 0] + rng.integers(-127, 128, ann.DIMS - 3).tolist(),
         int(rng.integers(1, 1000)))
        for i in range(30)
    ]
    cents = [(6, vec(0, 100)), (2, vec(100)), (8, vec(0, 0, 100)),
             (4, vec(0, 100))]
    return rows, cents


def _pq_codebook(post, cents, residual):
    """Codebook rows under which every float posting [vec_id, qv,
    cent_id] of ``post`` (its residual qv − centroid when ``residual``)
    has an exact PQ code: subspace m's codewords are the distinct m-th
    subvectors, sorted. Returns (codebook rows, encode(post) → codes
    rows [vec_id, cent_id, codes])."""
    import numpy as np

    cv = dict(cents)

    def subvectors(p):
        x = np.array([
            np.subtract(qv, cv[c]) if residual else qv for _, qv, c in p
        ], dtype=np.int64)
        return x.reshape(len(p), ann.M_SUB, ann.SUB_DIMS).tolist()

    x = subvectors(post)
    book = [sorted({tuple(r[m]) for r in x}) for m in range(ann.M_SUB)]

    def encode(p):
        return [
            (v, c, [book[m].index(tuple(r[m])) for m in range(ann.M_SUB)])
            for (v, _, c), r in zip(p, subvectors(p))
        ]

    rows = [(m, kk, list(w)) for m in range(ann.M_SUB)
            for kk, w in enumerate(book[m])]
    return rows, encode


@pytest.mark.parametrize("serve", ["int8", "float", "pq", "pq_residual"])
def test_serve_kernel_matches_duckdb(spark, serve):
    # every IVF serve and the DuckDB serve SQL the oracles replay must
    # agree row for row, ties and edge lists included. The float
    # postings hold qv = v8·scale and the PQ codes reconstruct qv (or
    # its residual) exactly, so each serve scores scale_q·sdot and the
    # int8 expectations below hold for all four
    import duckdb

    rows, cents = _serve_edge_tables()
    con = duckdb.connect()
    con.execute("CREATE TABLE cents (cent_id BIGINT, cv BIGINT[])")
    con.executemany("INSERT INTO cents VALUES (?, ?)", cents)
    cents_df = ann.centroid_frame(spark, cents)
    scale_q = {v: 1 if serve == "int8" else s for v, _, _, s in rows}
    residual = serve == "pq_residual"
    codebook, encode = _pq_codebook(
        [(v, [x * s for x in v8], c) for v, c, v8, s in rows], cents, residual
    )

    def table(name, ddl, data, schema):
        con.execute(f"CREATE OR REPLACE TABLE {name} ({ddl})")
        if data:
            con.executemany(
                f"INSERT INTO {name} VALUES ({', '.join('?' * len(data[0]))})",
                data,
            )
        return spark.createDataFrame(data, schema)

    def check(p8_rows, n_queries, k, n_probes):
        post = [(v, [x * s for x in v8], c) for v, c, v8, s in p8_rows]
        if serve == "int8":
            p8 = table(
                "p8", "vec_id BIGINT, cent_id BIGINT, v8 TINYINT[], "
                "scale BIGINT", p8_rows, ann.POSTINGS8_SCHEMA,
            )
            sql = ann.duck_serve_int8_sql(
                "p8", "cents", n_queries, k, n_probes
            )
            out = ann.ivf_serve_topk_int8(
                p8, cents_df, n_queries, k, n_probes
            )
        elif serve == "float":
            df = table(
                "post", "vec_id BIGINT, qv BIGINT[], cent_id BIGINT", post,
                "vec_id long, qv array<long>, cent_id long",
            )
            sql = ann.duck_serve_sql("post", "cents", n_queries, k, n_probes)
            out = ann.ivf_serve_topk(df, cents_df, n_queries, k, n_probes)
        else:
            codes = table(
                "codes", "vec_id BIGINT, cent_id BIGINT, codes TINYINT[]",
                encode(post),
                "vec_id long, cent_id long, codes array<tinyint>",
            )
            cb = table(
                "codebook", "sub INTEGER, code INTEGER, cw BIGINT[]",
                codebook, ann.CODEBOOK_SCHEMA,
            )
            queries = table(
                "queries", "query_id BIGINT, qe BIGINT[]",
                [(v, qv) for v, qv, _ in post if v < n_queries],
                "query_id long, qe array<long>",
            )
            sql = ann.duck_serve_pq_sql(
                "codes", "cents", "codebook", "queries", k, n_probes,
                residual,
            )
            out = ann.pq_serve_topk(
                codes, cents_df, cb, queries, k, n_probes,
                plus_centroid_dot=residual,
            )
        want = sorted(con.sql(f"SELECT * FROM {sql} _q").fetchall())
        col = {"int8": "sdot", "float": "dot"}.get(serve, "adot")
        assert out.schema.simpleString() == (
            f"struct<query_id:bigint,vec_id:bigint,{col}:bigint,rank:int>"
        )
        assert sorted(tuple(r) for r in out.collect()) == want
        return [(q, v, score // scale_q[q], r) for q, v, score, r in want]

    got = check(rows, 3, 3, 2)
    byq = {}
    for q, v, sdot, rank in got:
        byq.setdefault(q, []).append((v, sdot))
    assert byq[0] == [(10, 300), (11, 300), (20, 200)]  # list 4, not 6
    assert byq[1][:2] == [(0, 0), (10, 0)]  # list 8 is only itself; list 2
    assert {v for v, _ in byq[2]} == {20, 30, 21}  # own row dropped
    assert check(rows, 3, 1, 2)[0] == (0, 10, 300, 1)  # sdot tie at k
    one_probe = check(rows, 3, 4, 1)  # first-probe tie: list 4 only
    assert {v for q, v, _, _ in one_probe if q == 2} == {20, 21, 101, 104}
    assert check(rows + rows[:1], 3, 3, 2)  # duplicate query row
    assert check(rows, 0, 3, 2) == []
    assert check([], 3, 3, 2) == []

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert check(rows, 3, 5, 2)
    finally:
        spark.conf.set(key, prev)
