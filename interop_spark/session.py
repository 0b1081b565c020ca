"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[N]``; the config block is written for the
100 TB posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), nested-schema pruning on (FHIR structs are enormous — reading
only the plucked subfields is the difference between scanning 2 columns and
2,000), Arrow on for the few pandas-UDF paths, and a shuffle-partition
count that callers override per deployment (32 locally; a real cluster
would size this to ~2-3× total cores or rely on AQE coalescing from a
high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that matter at 100 TB, not just locally. Every one of these is a
# stock Spark knob — no custom Catalyst rules are required for this engine
# (see SURVEY.md §4).
ENGINE_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce post-shuffle partitions, convert SMJ to
    # broadcast when runtime stats allow, split skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # FHIR resource structs have hundreds of fields; queries pluck a handful.
    # Nested pruning pushes the subfield projection into the scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Arrow batches for the pandas-UDF paths (multimodal decode, encoders).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + predicate pushdown are defaults,
    # stated here because the bench asserts on them.
    "spark.sql.parquet.filterPushdown": "true",
    # Timestamps in the fixtures are naive; keep parity with DuckDB.
    "spark.sql.session.timeZone": "UTC",
    # Generated-code class cache (an LRU, 100 entries by default). One
    # theta_sketch_setops + ivfpq_search pass compiles 113 distinct
    # classes and one pass over the 81 headline queries about 1,400
    # (sf0.001), so at 100 entries a session re-running the same queries
    # misses on nearly every lookup and recompiles on every pass. 4096
    # holds the whole headline working set with headroom. Static conf:
    # like the driver heap below, it only takes effect when the JVM
    # starts.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # With DataFrame debugging on (PySpark's default), every DataFrame
    # and functions API call captures the Python call stack and makes
    # extra JVM round trips to record it as the call site shown in
    # error messages: about 1 ms per call (F.col 1.34 ms against
    # 0.39 ms off), and query construction makes hundreds of such
    # calls. PySpark reads the switch once per process, from the first
    # active session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # InferFiltersFromGenerate adds `size(arr) > 0` under every explode
    # of a computed array; the filter is pushed below the projection
    # that computes the array, so the whole input (the FHIR bundle
    # parse and extraction, a pandas UDF's codes in PQ training) is
    # evaluated twice: once in the Filter, once in the Project. explode
    # drops empty and NULL arrays by itself, so the rule adds nothing.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # local[N] puts driver + all executor threads + every localCheckpoint
    # block in ONE JVM; Spark's 1 GiB default heap on a 32-core/128 GiB
    # box OOMs under any real working set (round-4 bench died exactly
    # this way). Only effective at JVM launch — a no-op when getOrCreate
    # returns an existing session, which is the desired semantics. On a
    # real cluster the deployment sets executor/driver memory instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def object_store_conf(
    committer: str = "magic", threads: int = 64
) -> dict[str, str]:
    """Recommended s3a posture for running this engine against an object
    store (public hadoop-aws knowledge; UNTESTED here — the sandbox has
    no S3, so this is the documented config path the reader's
    ``pathGlobFilter`` listing strategy was designed for).

    - S3A committers ("magic" or "directory" staging) replace the
      rename-based FileOutputCommitter: object stores have no atomic
      rename, so v1/v2 commit algorithms are both slow AND unsafe there.
    - Listing/connection parallelism sized for thousand-file directory
      scans (the FhirBundles corpus shape): `fs.s3a.connection.maximum`
      must exceed the executor thread count or listings serialize.
    - `fs.s3a.experimental.input.fadvise=normal` adapts between
      sequential (wholetext bundle reads) and random (parquet footer)
      access patterns.

    Merge into ``get_spark(extra_conf=...)``.
    """
    return {
        "spark.hadoop.fs.s3a.committer.name": committer,
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        "spark.hadoop.fs.s3a.connection.maximum": str(threads),
        "spark.hadoop.fs.s3a.threads.max": str(threads),
        "spark.hadoop.fs.s3a.experimental.input.fadvise": "normal",
        "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
    }


def get_spark(
    app_name: str = "interop_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``). ``shuffle_partitions`` defaults to the core count —
    on a real cluster pass the deployment's value or let AQE coalesce.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
