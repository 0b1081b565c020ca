"""Executed-plan invariants at sf0.001 (first cut).

Each test reads the physical plans Spark actually ran, either from the
SQL status store (every execution a call fired, construction jobs
included, with AQE's final plan) or from ``executedPlan`` of a frame it
builds, and asserts on operator counts:

- PQ training's Lloyd aggregate evaluates its pandas UDF once (no
  inferred ``size(codes) > 0`` filter under the ``posexplode``);
- ``ivfpq_search`` and ``ivfpq_residual_search`` are one ``MapInPandas``
  scan and broadcast nothing;
- ``patient_conditions`` over an ``entry()`` frame parses each bundle
  once per scan branch.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _executions(spark, action) -> list[str]:
    """Run ``action`` and return the physical plan tree (AQE's final
    plan where there is one) of every SQL execution it fired."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def listed():
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    sc.listenerBus().waitUntilEmpty(30_000)
    before = {x.executionId() for x in listed()}
    action()
    sc.listenerBus().waitUntilEmpty(30_000)
    trees = []
    for x in sorted(listed(), key=lambda x: x.executionId()):
        if x.executionId() in before:
            continue
        tree = x.physicalPlanDescription().split("\n\n")[0]
        if "== Final Plan ==" in tree:
            tree = tree.split("== Final Plan ==")[1]
            tree = tree.split("== Initial Plan ==")[0]
        trees.append(tree)
    return trees


def _count(tree: str, node: str) -> int:
    return len(re.findall(rf"\b{node} \(\d+\)", tree))


def test_pq_train_lloyd_aggregate_evaluates_codes_once(spark, sf_dir):
    from interop_spark.io import load
    from interop_spark.operators.pq import pq_train

    e = load(spark, sf_dir, "embeddings")
    trees = _executions(
        spark, lambda: pq_train(e, m_subspaces=4, k=4, iters=2, dim=64)
    )
    lloyd = [t for t in trees if _count(t, "HashAggregate")]
    assert len(lloyd) == 2, trees
    for tree in lloyd:
        assert _count(tree, "ArrowEvalPython") == 1, tree
        assert _count(tree, "Filter") == 0, tree


@pytest.mark.parametrize(
    "name, udfs", [("ivfpq_search", 1), ("ivfpq_residual_search", 2)]
)
def test_ivfpq_search_is_one_map_in_pandas_without_broadcast(
    spark, sf_dir, name, udfs
):
    """The search's final plan is one MapInPandas scan with no Arrow UDF;
    no execution it fires (training passes, centroid collect) broadcasts,
    and none evaluates more Arrow UDFs than it has distinct ones (the
    codes, plus the cell assignment for residual training)."""
    from interop_spark.queries import all_queries

    out = {}

    def run():
        out["rows"] = all_queries()[name](spark, sf_dir).collect()

    trees = _executions(spark, run)
    assert out["rows"]
    final = trees[-1]
    assert _count(final, "MapInPandas") == 1, final
    assert _count(final, "ArrowEvalPython") == 0, final
    for tree in trees:
        assert "BroadcastExchange" not in tree, tree
        assert _count(tree, "ArrowEvalPython") <= udfs, tree


def test_patient_conditions_parses_once_per_scan_branch(spark, sf_dir):
    from interop_spark.fhir import read_from_directory
    from interop_spark.fhir.analytics import patient_conditions
    from interop_spark.fhir.gen import write_corpus
    from interop_spark.fhir.schema import CONDITION, PATIENT, FhirSchemaModel
    from interop_spark.queries.fhir_queries import _CORPUS_LIMIT

    corpus = write_corpus(spark, sf_dir, max_custkey=_CORPUS_LIMIT)
    entry = read_from_directory(
        "file://" + corpus, spark=spark, glob_filter="*.json"
    ).entry(
        schemas=FhirSchemaModel(
            fhir_resource_map={"Patient": PATIENT, "Condition": CONDITION}
        )
    )
    pc = patient_conditions(entry)
    plan = pc._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("FileScan ")
    assert scans == 1, plan
    assert plan.count("parseJson(") == scans, plan
    assert pc.agg(F.count(F.lit(1))).first()[0] > 0
