"""Fixture-table loading for the driver's TPC-H-ish parquet testdata.

``load(spark, sf_dir, name)`` returns a DataFrame for one table;
``register_views`` registers all of them as temp views so queries can be
written in pure SQL (mirroring the reference's ``%sql`` cells,
`01_dbignite_sample.py:232-243`).

Scale note: these are plain parquet scans — Catalyst pushes filters and
prunes columns into the FileScan, so a query that touches 2 of lineitem's
11 columns reads 2 column chunks, at any scale factor.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-session logical-plan cache (r19 optimization round): a DataFrame
# is an immutable logical plan, and `spark.read.parquet` pays a footer
# read + schema-inference round-trip (~0.1 s) on EVERY call — repeated
# by every query construction over the same ten fixture tables. Keying
# on the live session object (a stopped session is a different object,
# so stale hits are impossible) makes the second and later loads free
# while every ACTION still computes from the parquet files — this is
# plan-metadata reuse, the same class of caching Spark itself applies
# to file listings, not result caching.
_DF_CACHE: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark, sf_dir, name)
    hit = _DF_CACHE.get(key)
    if hit is not None:
        return hit
    df = _load_uncached(spark, sf_dir, name)
    _DF_CACHE[key] = df
    return df


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has shipped with two `ts` encodings across fixture
        # generations: INT64 TIMESTAMP(NANOS) (which Spark's parquet reader
        # only accepts as raw longs under the legacy conf) and plain
        # timestamp[us]. Be type-adaptive: set the legacy conf so both parse,
        # then convert only when ts actually read back as long nanos.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer `div`, not `/`: epoch-nanos exceed double's 2^53 mantissa
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if isinstance(ts_type, TimestampNTZType):
            # session-TZ semantics to match the duckdb oracle comparison
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` plus the engine's one scan-width rule. Scan width is
    decided here and nowhere else: no operator repartitions its input.

    A production table arrives in many splits and passes through
    UNTOUCHED: the size check below is a driver-side ``os.stat`` (no
    Spark job, no listing) and adds no exchange to the plan. A local
    single-row-group fixture file arrives as ONE split, which pins the
    whole downstream stage on one core (the "one huge unsplittable
    file" input-skew case); for those inputs only, repartition to the
    session's default parallelism. The threshold (4 MB of input per
    core) keeps the rule conservative: anything near a real split size
    per core stays on its scan layout.

    Queries call it when their next stage is CPU-heavy per-row work
    over the whole table (md5 shingling, signature hashing, per-row
    folds) and call plain ``load`` when the per-row pass is cheap or
    reads a bounded slice, where the round-robin exchange costs more
    than it buys. A derived frame that needs width (a union of
    one-split branches) gets an explicit ``repartition`` in the query,
    before its checkpoint.
    """
    df = load(spark, sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    try:
        size = (
            sum(
                e.stat().st_size
                for e in os.scandir(path)
                if e.is_file()
            )
            if os.path.isdir(path)
            else os.path.getsize(path)
        )
    except OSError:
        return df  # non-local path: real deployment layout, leave it
    par = spark.sparkContext.defaultParallelism
    if size >= par * 4 * 1024 * 1024:
        return df
    return df.repartition(par)


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of ``load``: a file-source ``readStream`` over the
    same parquet, with the SAME type-adaptive events-ts handling (the
    stream source needs an explicit schema, so the raw schema comes from
    a footer-only batch read; the nanos/NTZ conversion then mirrors
    ``load`` so stream and batch plans see identical column types)."""
    path = f"{sf_dir}/{name}.parquet"

    def _stream(schema):
        # the fixture table is a single FILE; FileStreamSource insists
        # its path be a DIRECTORY (basePath), so expose the file through
        # a one-symlink shim directory, one per source file and reused by
        # every call. On a cluster the source is a real landing directory
        # and this shim disappears.
        src_dir = path
        if os.path.isfile(path):
            src = os.path.abspath(path)
            digest = hashlib.md5(src.encode()).hexdigest()[:16]
            src_dir = os.path.join(
                "/tmp/interop_spark_fixtures", f"stream-{name}-{digest}"
            )
            os.makedirs(src_dir, exist_ok=True)
            try:
                os.symlink(src, os.path.join(src_dir, f"{name}.parquet"))
            except FileExistsError:  # an earlier or concurrent call made it
                pass
        return spark.readStream.schema(schema).parquet(src_dir)

    if name != "events":
        return _stream(spark.read.parquet(path).schema)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    raw = spark.read.parquet(path)
    df = _stream(raw.schema)
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each fixture table as a temp view named after itself."""
    for name in tables:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
