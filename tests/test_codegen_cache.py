"""A warm session compiles no generated code.

Spark caches the classes its code generator compiles in an LRU sized by
``spark.sql.codegen.cache.maxEntries``. When a session's working set of
distinct classes outgrows that cache, re-running the same queries misses
on nearly every lookup and recompiles; a query that names a class after
a JVM-global sequence (``.limit(n).count()``'s in-stage limit counter)
recompiles on every run whatever the cache size. Both show up as a
non-zero compile count on a repeated run.
"""

from __future__ import annotations

import pytest

from interop_spark.session import ENGINE_CONF

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    """Classes the code generator has compiled in this JVM so far."""
    cg = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cg.METRIC_COMPILATION_TIME().getCount()


def _run(spark, sf_dir, names) -> int:
    """Compiles caused by running each named query once to a noop sink."""
    import __spark_entry__ as entry

    registry = entry.queries()
    before = _compiles(spark)
    for name in names:
        registry[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    return _compiles(spark) - before


def test_session_reads_engine_cache_size(spark):
    assert spark.conf.get(CACHE_CONF) == ENGINE_CONF[CACHE_CONF]


@pytest.mark.parametrize(
    "names",
    [("theta_sketch_setops", "ivfpq_search"), ("linkage_entities",)],
    ids=["corpus_ops_cycle", "linkage_entities"],
)
def test_third_run_compiles_nothing(spark, sf_dir, names):
    counts = [_run(spark, sf_dir, names) for _ in range(3)]
    assert counts[2] == 0, f"compiles per run: {counts}"
