"""The benchmark's workloads: which registered queries each one runs and
at which input scale. Why each was chosen, and which layers it exercises
or bypasses, is in README.md and BENCHMARK.json."""

from __future__ import annotations

import os
from dataclasses import dataclass

# the fixed, read-only input tables described in TESTDATA.md
TESTDATA = os.path.expanduser("~/testdata")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # subdirectory of TESTDATA holding the input tables
    queries: tuple[str, ...]
    warmup: int  # untimed passes before the timed ones
    fhir_fixtures: bool = False  # build the FHIR corpora before setup


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="fhir_notebook",
            sf="sf0.001",
            queries=(
                "fhir_notebook_e2e",
                "fhir_ndjson_observations",
            ),
            warmup=5,
            fhir_fixtures=True,
        ),
        Workload(
            name="corpus_ops",
            sf="sf0.001",
            queries=(
                "theta_sketch_setops",
                "ivfpq_search",
            ),
            warmup=5,
        ),
    )
}

# Left out on purpose: fhir_adt_timeline reads the reference's ADT sample
# messages, which are not in the repository, so it would fail every run;
# the fhir.adt layer stays unmeasured until those samples are vendored.
