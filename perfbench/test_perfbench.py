"""The benchmark's own tests: a one-pass smoke run at sf0.001 per workload
and trace mode, checked against BENCHMARK.json, and the per-pass job and
persisted-RDD counts of the traced run repeating exactly across two runs.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def smoke(workload: str, trace: int, seed: int = 1) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_workloads_match_spec():
    assert sorted(WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    res = smoke(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec}
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_counts_repeat_across_runs(workload):
    counts = (
        "queries.construct_jobs",
        "queries.execute_jobs",
        "queries.persisted_rdds_max",
        "queries.persisted_rdds_end",
    )
    a, b = (smoke(workload, 1, seed) for seed in (1, 2))
    for k in counts:
        assert a["metrics"][k]["value"] == b["metrics"][k]["value"], k
    assert a["metrics"]["queries.construct_jobs"]["value"] > 0
