"""Cross-engine PRNG parity: the xxhash64 stream must be bit-identical in
Spark SQL, DuckDB (HUGEINT replica), and the pure-Python reference — the
whole oracle strategy rests on this (SURVEY.md §7.4)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.functions import bits, prng


def _duck(sql: str):
    return duckdb.sql(sql).fetchall()


def test_spark_matches_python(spark):
    s = [r[0] for r in spark.range(1000).selectExpr(
        prng.spark_hash("id", "id * 3 + 1") + " AS h").collect()]
    assert s == [prng.py_xxhash64([i, i * 3 + 1]) for i in range(1000)]


def test_spark_matches_python_negative_inputs(spark):
    s = [r[0] for r in spark.range(1000).selectExpr(
        prng.spark_hash("-id - 1") + " AS h").collect()]
    assert s == [prng.py_xxhash64([-i - 1]) for i in range(1000)]


def test_duckdb_matches_python():
    q = prng.duck_hash_query(
        "SELECT id, id*3+1 AS b FROM range(1000) t(id)", ["id", "b"], "h")
    d = [r[0] for r in _duck(f"SELECT h FROM {q} _t ORDER BY id")]
    assert d == [prng.py_xxhash64([i, i * 3 + 1]) for i in range(1000)]


def test_unit_bits_parity_and_range(spark):
    s = [r[0] for r in spark.range(2000).selectExpr(
        prng.spark_unit_bits(prng.spark_hash("id"), 63) + " AS u").collect()]
    q = prng.duck_hash_query("SELECT id FROM range(2000) t(id)", ["id"], "h")
    d = [r[0] for r in _duck(
        f"SELECT {prng.duck_unit_bits('h', 63)} AS u FROM {q} _t ORDER BY id")]
    assert s == d
    assert all(0 <= v < 2**63 for v in s)
    mean = sum(s) / len(s)
    assert abs(mean / 2**62 - 1.0) < 0.05  # uniform on [0, 2^63)


def test_bernoulli_bit_parity_and_rate(spark):
    for p in (0.1, 0.5, 0.9):
        p64 = int(p * (2**63 - 1))
        h = prng.spark_hash("id")
        s = [r[0] for r in spark.range(3000).selectExpr(
            prng.spark_bernoulli_bit(h, str(p64)) + " AS b").collect()]
        q = prng.duck_hash_query("SELECT id FROM range(3000) t(id)", ["id"], "h")
        d = [r[0] for r in _duck(
            f"SELECT {prng.duck_bernoulli_bit('h', str(p64))} AS b "
            f"FROM {q} _t ORDER BY id")]
        assert s == d
        assert abs(sum(s) / len(s) - p) < 0.03


def test_genome_parity_and_tail_mask(spark):
    # 130 bits → 3 longs, last long only 2 usable bits
    g = bits.spark_genome_sql(13, "id", 130)
    rows = spark.range(400).selectExpr(f"{g} AS g").collect()
    assert all(len(r.g) == 3 and 0 <= r.g[2] <= 3 for r in rows)
    q = bits.duck_genome_query(
        "SELECT id FROM range(400) t(id)", "id", ["id"], 130, 13)
    d = _duck(f"SELECT genome FROM {q} _t ORDER BY id")
    assert [list(r.g) for r in rows] == [list(x[0]) for x in d]


def test_genome_bits_uniform(spark):
    g = bits.spark_genome_sql(7, "id", 256)
    pc = bits.popcount_sql("g", "spark", nl=4)
    rows = (
        spark.range(4000).selectExpr(f"{g} AS g").selectExpr(f"{pc} AS pc")
        .collect()
    )
    mean = sum(r.pc for r in rows) / len(rows)
    assert abs(mean - 128.0) < 2.0


def test_popcount_matches_python(spark):
    g = bits.spark_genome_sql(3, "id", 192)
    rows = spark.range(300).selectExpr(
        f"{g} AS g", f"{bits.popcount_sql('g', 'spark', 3)} AS pc").collect()
    for r in rows:
        assert r.pc == sum((x & (2**64 - 1)).bit_count() for x in r.g)


def test_crossover_bit_conservation_and_parity():
    import numpy as np

    nl = bits.n_longs(256)
    ids = np.arange(300, dtype=np.int64)
    a = bits.np_genome(1, ids, 256)
    b = bits.np_genome(2, ids, 256)
    c1, c2 = bits.np_crossover(a, b, 3, ids, 256)
    # exact invariant of P4: children conserve the parents' bits
    assert np.array_equal(c1 | c2, a | b)
    assert np.array_equal(c1 & c2, a & b)
    src = "SELECT id FROM range(300) t(id)"
    qa = bits.duck_genome_query(src, "id", ["id"], 256, 1, out="a")
    qb = bits.duck_genome_query(src, "id", ["id"], 256, 2, out="b")
    qm = bits.duck_mask_query(src, "id", ["id"], 256, 3, out="m")
    d = _duck(f"""
        SELECT {bits.duck_crossover_sql('a', 'b', 'm', 1, nl)} AS c1,
               {bits.duck_crossover_sql('a', 'b', 'm', 2, nl)} AS c2
        FROM {qa} _a JOIN {qb} _b ON _a.__gk = _b.__gk
                     JOIN {qm} _m ON _a.__gk = _m.__gk
        ORDER BY _a.__gk""")
    assert c1.tolist() == [list(x[0]) for x in d]
    assert c2.tolist() == [list(x[1]) for x in d]


def test_getbit(spark):
    e2 = bits.getbit_sql("cast(5 as bigint)", "id", "spark")
    got = [r[0] for r in spark.range(4).selectExpr(f"{e2} AS b").collect()]
    assert got == [1, 0, 1, 0]
    d = _duck(
        f"SELECT {bits.getbit_sql('(-9223372036854775807)::BIGINT - 1', '63', 'duckdb')}")
    assert d[0][0] == 1
    s = spark.range(1).selectExpr(
        bits.getbit_sql("cast(-9223372036854775807 as bigint) - 1", "63", "spark")
        + " AS b").collect()
    assert s[0][0] == 1
