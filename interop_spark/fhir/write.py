"""Table sinks: per-resource bulk writes and flattened saveAsTable helpers.

Reference surface:
- ``bulk_table_write(location, write_mode, columns)`` — one table per
  resource column, carrying ``bundleUUID`` (+ ``timestamp`` when present)
  (`01_dbignite_sample.py:221-223,425-427`; written-table shape evidenced by
  the sub-selects at `:241-242,455-456`).
- flattened ``df.write.saveAsTable`` (K1, `:72,112,174,206`).

Local test environments have no Unity Catalog, so 3-level names like
``hls_healthcare.hls_dev.Patient`` fall back to a 2-level
``hls_healthcare_hls_dev.Patient`` in the session catalog (SURVEY.md §7
hard-part (e)). At scale the same code path writes through whatever
catalog the session has configured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUNDLE_META_COLS = ("bundleUUID", "bundleId", "bundleType", "timestamp", "_file_path")


def resolve_table_name(spark: SparkSession, location: str, table: str) -> str:
    """Map ``location + table`` to a writable identifier, creating the
    database if needed. 3-level names collapse to ``<cat>_<schema>`` when
    the session catalog is the only one available. Whether the first part
    names a catalog is read from the session conf (``spark_catalog`` or
    a ``spark.sql.catalog.<name>`` entry): ``catalog.listCatalogs()``
    would cost a Spark job per call."""
    parts = [p for p in location.split(".") if p]
    if len(parts) >= 2 and parts[0] != "spark_catalog" and (
        spark.conf.get(f"spark.sql.catalog.{parts[0]}", None) is None
    ):
        db = "_".join(parts)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
        return f"`{db}`.`{table}`"
    if len(parts) == 1:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{parts[0]}`")
        return f"`{parts[0]}`.`{table}`"
    db = ".".join(f"`{p}`" for p in parts)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    return f"{db}.`{table}`"


def resource_columns(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in BUNDLE_META_COLS]


def bulk_table_write(
    df: DataFrame,
    location: str,
    write_mode: str = "overwrite",
    columns: list[str] | None = None,
    materialize: bool = True,
) -> None:
    """Write each resource column as ``<location>.<Resource>`` with its
    bundle lineage key (+ event timestamp for message bundles).

    r19 optimization round, two changes per the guide:

    - With >1 target each ``saveAsTable`` would re-execute the full
      input lineage (for an ``entry()`` frame: the wholetext read +
      JSON parse of every bundle, once per resource type) — so the
      input is lazily localCheckpoint'd and the parse runs once
      (``bulk_ndjson_write`` has done this since r17; pass
      ``materialize=False`` when the caller already checkpointed).
    - The per-table write jobs are INDEPENDENT, so they run from a
      small thread pool (guide §2.6 "overlap independent jobs"): one
      table's write tail back-fills executors the next write would
      leave idle. Table names are resolved (CREATE DATABASE) serially
      up front — only the pure write jobs overlap.
    """
    spark = df.sparkSession
    targets = columns if columns is not None else resource_columns(df)
    carry = ["bundleUUID"] + (["timestamp"] if "timestamp" in df.columns else [])
    if materialize and len(targets) > 1:
        df = df.localCheckpoint(eager=False)
    names = {rt: resolve_table_name(spark, location, rt) for rt in targets}

    def _write(rt: str) -> None:
        (
            df.select(*carry, rt)
            .write.mode(write_mode)
            .format("parquet")
            .saveAsTable(names[rt])
        )

    if len(targets) <= 1:
        for rt in targets:
            _write(rt)
        return
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=min(3, len(targets))) as pool:
        list(pool.map(inheritable_thread_target(spark)(_write), targets))


def save_as_table(df: DataFrame, full_name: str, mode: str = "overwrite") -> None:
    """K1: flattened-projection sink with the same 3-level fallback."""
    spark = df.sparkSession
    loc, _, table = full_name.rpartition(".")
    name = resolve_table_name(spark, loc, table) if loc else f"`{full_name}`"
    df.write.mode(mode).format("parquet").saveAsTable(name)


def drop_table_if_exists(spark: SparkSession, full_name: str) -> None:
    """K4: idempotent re-run setup (`01_dbignite_sample.py:215-219`)."""
    loc, _, table = full_name.rpartition(".")
    if loc:
        name = resolve_table_name(spark, loc, table)
    else:
        name = f"`{full_name}`"
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def bulk_ndjson_write(
    df: DataFrame,
    location: str,
    write_mode: str = "overwrite",
    columns: list[str] | None = None,
) -> None:
    """Reverse bulk export (round-10, the sink twin of ``FhirNdjson``):
    each resource column of an ``entry()`` bundle-row frame is exploded
    and re-serialized as JSON lines under ``<location>/<Resource>/`` —
    the FHIR Bulk Data ``$export`` layout, written DISTRIBUTED (part
    files of lines; a single .ndjson file cannot be written in
    parallel, and ``FhirNdjson``/any bulk importer consumes a directory
    of line files identically).

    ``to_json`` omits null fields, so the emitted lines carry only the
    fields present in the source rows; ``resourceType`` is part of every
    catalog StructType and round-trips.

    One write job runs per resource column, and each would re-execute
    the full input lineage (for an ``entry()`` frame: the wholetext read
    + JSON parse of every bundle, once per type) — so for >1 target the
    input is lazily localCheckpoint'd: the parse runs once, the per-type
    jobs read the materialized blocks. At real scale prefer passing a
    narrow ``columns`` list (or staging ``entry()`` to a table) over
    caching a full-catalog frame."""
    targets = columns if columns is not None else resource_columns(df)
    if len(targets) > 1:
        df = df.localCheckpoint(eager=False)
    for rt in targets:
        exploded = df.select(F.explode(rt).alias("_r")).select(
            F.to_json(F.col("_r")).alias("value")
        )
        exploded.write.mode(write_mode).text(f"{location.rstrip('/')}/{rt}")
