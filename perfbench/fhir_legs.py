"""The fhir_notebook_e2e chain, leg by leg, through the public fhir API:
bundle ingest, bulk table sink, rejoin over the written tables, OMOP
person, and the FHIR writer's encode + re-parse. Each leg's input is
checkpointed first, so a leg's span times that leg's work only."""

from __future__ import annotations

import os
import shutil
import statistics
from urllib.parse import urlparse

from pyspark.sql import functions as F

LOCATION = "perfbench_legs.driver"  # its own catalog database
DATABASE = "perfbench_legs_driver"
REPS = 3  # legs are timed this many times; each leg reports its median


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _chain(spark, sf_dir: str, spans) -> None:
    from interop_spark.fhir import Bundle, Mapping, MappingManager, read_from_directory
    from interop_spark.fhir.analytics import omop_person, patient_conditions
    from interop_spark.fhir.gen import write_corpus
    from interop_spark.fhir.schema import CONDITION, PATIENT, FhirSchemaModel
    from interop_spark.fhir.write import bulk_table_write, drop_table_if_exists
    from interop_spark.queries.fhir_queries import _E2E_LIMIT

    corpus = write_corpus(spark, sf_dir, max_custkey=_E2E_LIMIT)
    with spans.span("fhir.reader.ingest_s"):
        entry = (
            read_from_directory("file://" + corpus, spark=spark, glob_filter="*.json")
            .entry(schemas=FhirSchemaModel(
                fhir_resource_map={"Patient": PATIENT, "Condition": CONDITION}
            ))
            .localCheckpoint()
        )
    with spans.span("fhir.write.sink_s"):
        for t in ("Patient", "Condition"):
            drop_table_if_exists(spark, f"{LOCATION}.{t}")
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
        shutil.rmtree(os.path.join(wh, f"{DATABASE}.db"), ignore_errors=True)
        bulk_table_write(entry, LOCATION, columns=["Patient", "Condition"],
                         materialize=False)
    with spans.span("fhir.analytics.rejoin_s"):
        pc = (
            patient_conditions(
                spark.table(f"{DATABASE}.Patient").join(
                    spark.table(f"{DATABASE}.Condition"), "bundleUUID"
                )
            )
            .select("Patient", "condition_code", "clinical_status")
            .localCheckpoint()
        )
    with spans.span("fhir.analytics.omop_s"):
        persons = omop_person(entry).select(
            "person_id", F.col("year_of_birth").cast("int").alias("year_of_birth")
        )
        _noop(pc.join(persons, pc.Patient == persons.person_id))
    with spans.span("fhir.writer.encode_s"):
        src = pc.select(
            F.col("Patient").alias("PAT_ID"),
            F.col("condition_code").alias("COND_CODE"),
        )
        emitted = Bundle(
            MappingManager(
                [Mapping("PAT_ID", "Patient.id"),
                 Mapping("COND_CODE", "Patient.name.text")],
                src.schema,
            )
        ).df_to_fhir_df(src)
        _noop(
            emitted.select(F.try_parse_json("value").alias("v")).select(
                F.variant_get("v", "$.entry[0].resource.id", "string"),
                F.variant_get("v", "$.entry[0].resource.name[0].text", "string"),
            )
        )


def notebook_legs(spark, sf_dir: str, spans) -> dict[str, float]:
    """Median self time of each leg over REPS runs of the chain."""
    times: dict[str, list[float]] = {}
    for rep in range(REPS):
        with spans.span("fhir_legs", rep=rep):
            start = len(spans.records)
            _chain(spark, sf_dir, spans)
        for i in range(start, len(spans.records)):
            r = spans.records[i]
            times.setdefault(r["name"], []).append(spans.self_time(i))
    return {k: statistics.median(v) for k, v in times.items()}
