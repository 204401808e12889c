"""Table registry over the driver-generated parquet fixtures (TESTDATA.md),
format-generic sinks and scans, and the SequenceFile interchange shim.

Reference mapping (SURVEY.md §2.1): the reference reads/writes one
SequenceFile dir per GA generation (S1/S2, ``reference
src/edu/illinois/ga/MapReduce.java:282,286,298-302``). Here a generation is
a parquet dir (columnar, splittable, min/max-pruned) — at 100 TB the scan
benefits from column pruning + predicate pushdown that SequenceFiles can't
offer; committed generation directories are ``sources/store.py``'s.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: columnar scan. Filters/projections placed on the result are
    pushed into the parquet reader by Catalyst (verified in tests via
    explain() containing PushedFilters)."""
    return spark.read.parquet(table_path(sf_dir, name))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan, robust to the fixture's timestamp physical type.

    The fixture has shipped both parquet TIMESTAMP(NANOS) — which Spark
    can only read ns-as-long via a legacy conf — and plain TIMESTAMP(µs)
    (read natively, as TIMESTAMP_NTZ wall-clock). Normalize either to
    ``ts`` = microsecond TIMESTAMP (session TZ is UTC, so NTZ wall-clock
    → instant is identity) plus ``ts_ns`` (bigint epoch nanos) for exact
    integer arithmetic; DuckDB mirrors with epoch_ns(ts) // 1000."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin UTC on whatever session the driver hands us: the NTZ→timestamp
    # cast below and every to_date(ts) downstream are wall-clock-correct
    # only under UTC, and the DuckDB oracles are timezone-free.
    # build_session() already sets UTC, so this is a no-op on our own
    # sessions; on a foreign non-UTC session the overwrite is required
    # for correctness but is a session-global side effect, so warn loudly
    # instead of changing co-resident queries' behavior silently.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00"):
        import warnings

        warnings.warn(
            f"read_events: overriding spark.sql.session.timeZone={tz!r} "
            "to 'UTC' for the rest of this session (events timestamps "
            "are timezone-free wall clocks; non-UTC sessions would "
            "mis-bucket to_date/window results)",
            stacklevel=2,
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = spark.read.parquet(table_path(sf_dir, "events"))
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":  # TIMESTAMP(NANOS) fixture, ns-as-long
        return raw.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000)
    )


def write_table(
    df: DataFrame, path: str, fmt: str = "parquet", **options
) -> None:
    """Sink in any Spark-supported format. CSV/JSON exist for interchange
    (header/schema round-trip tested); parquet is the performance path —
    columnar, splittable, min/max-pruned (the reference's SequenceFiles
    have none of that)."""
    w = df.write.mode("overwrite")
    if fmt == "csv":
        w = w.option("header", "true")
    w.format(fmt).save(path)


def read_any(
    spark: SparkSession, path: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """Scan in any Spark-supported format; pass an explicit schema for
    csv/json (inference costs a full extra pass and guesses types)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true")
    return r.format(fmt).load(path)


def write_sequencefile_population(df: DataFrame, path: str) -> None:
    """Literal SequenceFile interchange (S1/S2 migration fidelity): encode
    each individual as (BytesWritable genome, LongWritable fitness),
    mirroring the reference's ``(LongArrayWritable, LongWritable)`` record
    (``reference src/edu/illinois/ga/MapReduce.java:284-285``;
    ``LongArrayWritable.java:36-50`` serializes big-endian int64s, which is
    exactly ``struct.pack('>Nq')`` here — the length prefix becomes the
    BytesWritable byte count). This is an ingest/egress shim for porting
    existing SequenceFile generations, not a hot path: the per-record
    Python encode is distributed (rdd.map, no driver materialization) but
    parquet remains the performance format (columnar, prunable)."""
    import struct

    def enc(row):
        g = row[0]
        return (bytearray(struct.pack(f">{len(g)}q", *g)), row[1])

    df.select("genome", "fitness").rdd.map(enc).saveAsSequenceFile(path)


def read_sequencefile_population(spark: SparkSession, path: str) -> DataFrame:
    """Inverse shim: SequenceFile dir → DataFrame[genome array<bigint>,
    fitness bigint]. Accepts any file written by the encoding above (or by
    a rewritten reference job emitting raw big-endian longs)."""
    import struct

    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType,
    )

    def dec(kv):
        b = bytes(kv[0])
        return (list(struct.unpack(f">{len(b) // 8}q", b)), int(kv[1]))

    schema = StructType([
        StructField("genome", ArrayType(LongType(), False), False),
        StructField("fitness", LongType(), False),
    ])
    rdd = spark.sparkContext.sequenceFile(path).map(dec)
    return spark.createDataFrame(rdd, schema)

