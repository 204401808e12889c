"""Bucketed-table co-located join: the zero-exchange fact⋈fact path
(sources/bucketing.py). Asserts BOTH the plan property (no Exchange in
join or post-join agg on the bucket key) and result parity with the
plain shuffled join."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from geneticalgorithmsusingmapreduce_spark import catalog
from geneticalgorithmsusingmapreduce_spark.sources import bucketing
from geneticalgorithmsusingmapreduce_spark.sources.registry import read_table

SF = "/root/testdata/sf0.001"


def _final_plan(df):
    p = df._jdf.queryExecution().executedPlan().toString()
    return p.split("== Initial Plan ==")[0]


def test_bucketed_join_and_agg_no_exchange(spark, tmp_path):
    # the catalog entry plans on the session's own broadcast threshold:
    # its merge hint, not a conf toggle, keeps the join bucketed
    entry = catalog.QUERIES["join_bucketed_revenue"](spark, SF)
    entry.collect()
    o = read_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    bucketing.write_bucketed(o, "b_orders", str(tmp_path / "o"), 8, "o_orderkey")
    bucketing.write_bucketed(
        li, "b_lineitem", str(tmp_path / "li"), 8, "l_orderkey"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = bucketing.read_bucketed(spark, "b_orders")
        b = bucketing.read_bucketed(spark, "b_lineitem")
        j = (
            a.join(b, a.o_orderkey == b.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rows = j.collect()
        p = _final_plan(j)
        assert "Exchange" not in p  # join AND agg ride the bucketing
        for plan in (p, _final_plan(entry)):
            join = re.search("SortMergeJoin|ShuffledHashJoin", plan)
            assert join, plan
            assert "BroadcastHashJoin" not in plan
            # the entry's 5-row priority regroup exchanges above the join
            assert "Exchange" not in plan[join.start():]

        want = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert sorted((r.o_orderkey, r.n) for r in rows) == sorted(
            (r.o_orderkey, r.n) for r in want
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_buckets_for_path_scales_with_bytes(tmp_path):
    """Bucket count must grow with the data (the fixed-8 count measured
    16x for 10x data on the sf10->sf100 decade: 8 buckets = 8 read
    tasks, a hard parallelism cap). Power-of-two steps, clamped."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0").write_bytes(b"x" * 1000)
    # under one target -> floor count
    assert bucketing.buckets_for_path(str(d), target_bytes=10_000) == 8
    # ~100 targets of bytes -> next pow2 >= 100 = 128
    assert (
        bucketing.buckets_for_path(str(d), target_bytes=10) == 128
    )
    # hi clamp
    assert bucketing.buckets_for_path(str(d), target_bytes=1, hi=64) == 64
    # missing path -> floor (callers on fresh dirs still get a plan)
    assert bucketing.buckets_for_path(str(tmp_path / "nope")) == 8
