"""Session-config contracts (only the last test needs a SparkSession)."""
import os

from interop_spark.session import ENGINE_CONF, object_store_conf


def test_engine_conf_scale_posture():
    # AQE + nested pruning + a real driver heap are the non-negotiable
    # local[N] posture (round-4's bench died in the 1 GiB default heap)
    assert ENGINE_CONF["spark.sql.adaptive.enabled"] == "true"
    assert (
        ENGINE_CONF["spark.sql.optimizer.nestedSchemaPruning.enabled"]
        == "true"
    )
    mem = ENGINE_CONF["spark.driver.memory"]
    # the conf honors the documented override (baked in at import time);
    # only assert the 16g DEFAULT when the env hook isn't in use — a
    # user-chosen '24576m' or '4g' is the override working as designed
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    assert mem == (override if override else "16g")


def test_object_store_conf_shape():
    conf = object_store_conf(committer="directory", threads=128)
    # committer must NOT be the rename-based default; parallelism knobs
    # must carry the requested thread count
    assert conf["spark.hadoop.fs.s3a.committer.name"] == "directory"
    assert conf["spark.hadoop.fs.s3a.connection.maximum"] == "128"
    assert conf["spark.hadoop.fs.s3a.threads.max"] == "128"
    # mergeable into get_spark(extra_conf=...) without key collisions
    assert not set(conf) & set(ENGINE_CONF)


def test_live_session_captures_no_call_sites(spark):
    # with DataFrame debugging on, every PySpark API call captures the
    # Python stack and makes extra JVM calls to record its call site
    assert (
        ENGINE_CONF["spark.python.sql.dataFrameDebugging.enabled"] == "false"
    )
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )


def test_live_session_excludes_infer_filters_from_generate(spark):
    # the inferred `size(arr) > 0` filter under an explode of a computed
    # array makes Spark evaluate the array (a parse, a pandas UDF) twice
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    assert ENGINE_CONF["spark.sql.optimizer.excludedRules"] == rule
    assert spark.conf.get("spark.sql.optimizer.excludedRules") == rule
