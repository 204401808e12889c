from __future__ import annotations

import pytest

from geneticalgorithmsusingmapreduce_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session("gamr-tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def skewed_embeddings(spark):
    """sf0.001 embeddings whose vec_id % 3 == 0 third stays diverse
    while the other two thirds pile onto one region: ingested in 3
    batches, batch 0 trains a spread quantizer and batches 1-2 drive
    the max/mean list skew over 1.5."""
    from pyspark.sql import functions as F

    from geneticalgorithmsusingmapreduce_spark.sources.registry import (
        read_table,
    )

    return read_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.expr(
            "CASE WHEN vec_id % 3 = 0 THEN embedding "
            "ELSE transform(embedding, (x, i) -> cast(0.9 + "
            "(vec_id % 7) * 0.001 + i * 0.0001 as float)) END"
        ).alias("embedding"),
    )


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"
