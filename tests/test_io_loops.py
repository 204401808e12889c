"""SequenceFile round-trip (S1/S2), layout compaction and the
multi-split cGA loop."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from geneticalgorithmsusingmapreduce_spark.functions import bits
from geneticalgorithmsusingmapreduce_spark.operators import fitness as fit_ops
from geneticalgorithmsusingmapreduce_spark.operators import generate
from geneticalgorithmsusingmapreduce_spark.plans import cga as cga_plan


def test_sequencefile_roundtrip(spark):
    # literal S1/S2 interchange: (genome, fitness) survives the
    # BytesWritable/LongWritable encoding bit-exactly, including negative
    # longs (sign bit set) and the full int64 range
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_sequencefile_population, write_sequencefile_population,
    )

    pop = fit_ops.with_fitness(
        generate.random_population(spark, 200, 192, seed=9), nl=3
    )
    with tempfile.TemporaryDirectory() as d:
        write_sequencefile_population(pop, f"{d}/seq")
        back = read_sequencefile_population(spark, f"{d}/seq")
        assert dict(back.dtypes) == {
            "genome": "array<bigint>", "fitness": "bigint"
        }
        a = sorted((tuple(r.genome), r.fitness) for r in pop.collect())
        b = sorted((tuple(r.genome), r.fitness) for r in back.collect())
        assert a == b
        assert any(x < 0 for g, _ in a for x in g)  # sign bits exercised


def test_csv_json_roundtrip(spark):
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_any, read_table, write_table,
    )

    li = read_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    want = sorted(tuple(r) for r in li.collect())
    with tempfile.TemporaryDirectory() as d:
        for fmt in ("csv", "json"):
            write_table(li, f"{d}/{fmt}", fmt=fmt)
            back = read_any(spark, f"{d}/{fmt}", fmt=fmt, schema=li.schema)
            got = sorted(tuple(r) for r in back.collect())
            assert got == want, fmt


def test_run_cga_multi_split(spark):
    # the model sharded across several splits must behave identically in
    # aggregate: unconverged strictly decreases over a short run
    res = cga_plan.run_cga(
        spark, num_splits=3, t_size=8, seed=11,
        max_generations=25, pop=150, bits_per_split=64,
    )
    assert res.stats[0].unconverged >= res.stats[-1].unconverged
    assert res.stats[-1].best_fitness >= res.stats[0].best_fitness - 5
    # split ids present: 3 splits × 64 bits
    vec = generate.init_prob_vectors(spark, 3, 64)
    assert vec.select("split_id").distinct().count() == 3
    assert vec.count() == 192


def test_layout_compaction_reduces_files_content_invariant(spark):
    # r9: the small-files pass — a 64-part fragmented layout compacts
    # to the byte-sized file count, with EXACTLY the same rows
    import tempfile

    from geneticalgorithmsusingmapreduce_spark.sources import store
    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )

    li = read_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    with tempfile.TemporaryDirectory() as d:
        li.repartition(64).write.parquet(f"{d}/frag")
        stats = store.compact_layout(spark, f"{d}/frag", f"{d}/out")
        assert stats["files_before"] >= 64
        assert stats["files_after"] == stats["n_files_planned"] == 1
        want = sorted(tuple(r) for r in li.collect())
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{d}/out").collect()
        )
        assert got == want


def test_files_for_bytes_rule():
    from geneticalgorithmsusingmapreduce_spark.sources import store

    mb = 1 << 20
    assert store.files_for_bytes(0) == 1
    assert store.files_for_bytes(1) == 1
    assert store.files_for_bytes(128 * mb) == 1
    assert store.files_for_bytes(128 * mb + 1) == 2
    assert store.files_for_bytes(10 * 1024 * mb) == 80
    assert store.files_for_bytes(300 * mb, target_bytes=64 * mb) == 5
