"""FHIR reader e2e: ingest the reference's own 4 ADT bundles and reproduce
the notebook's ADT timeline (BASELINE.md 'FHIR e2e'), plus schema-override
and bulk-write behavior on synthetic bundles."""

from __future__ import annotations

import json

import pytest

ADT_DIR = "/root/reference/sampledata/adt_records/"


@pytest.fixture(scope="module")
def adt_entry(spark):
    from interop_spark.fhir import read_from_directory

    return read_from_directory(ADT_DIR, spark=spark).entry()


def test_entry_is_row_per_bundle(adt_entry):
    assert adt_entry.count() == 4
    cols = set(adt_entry.columns)
    assert {"bundleUUID", "timestamp", "Patient", "MessageHeader"} <= cols


def test_entry_resource_arrays(adt_entry):
    rows = adt_entry.select("Patient", "MessageHeader", "Location").collect()
    for r in rows:
        assert len(r.Patient) == 1
        assert len(r.MessageHeader) == 1
    # ADT_A01 bundle has two Location resources → array captures both
    assert any(r.Location and len(r.Location) >= 2 for r in rows)


def test_bundle_uuid_deterministic(spark):
    from interop_spark.fhir import read_from_directory

    a = {r.bundleUUID for r in read_from_directory(ADT_DIR, spark=spark).entry().collect()}
    b = {r.bundleUUID for r in read_from_directory(ADT_DIR, spark=spark).entry().collect()}
    assert a == b and len(a) == 4


def test_adt_timeline(adt_entry):
    from interop_spark.fhir.adt import ADTActions
    from interop_spark.fhir.analytics import adt_events

    rows = adt_events(adt_entry).collect()
    assert len(rows) == 4
    # ordered ssn desc, timestamp desc
    keys = [(r.ssn, r.event_timestamp) for r in rows]
    assert keys == sorted(keys, key=lambda t: (t[0], t[1]), reverse=True)
    # every row enriched with an action from the static HL7 table
    assert all(r.action for r in rows)
    admits = [r for r in rows if r.adt_type == "ADT_A01"]
    assert admits and all(r.action == "admit" for r in admits)
    # identifier-system extraction (ssn / DL / EMPI HOF filters)
    assert all(r.ssn for r in rows)
    assert all(r.first_name and r.last_name for r in rows)


def test_adt_sql_udf(spark, adt_entry):
    """The notebook's literal SQL shape: registered get_action + explode +
    HOF filter + join on bundleUUID (`01_dbignite_sample.py:431-459`)."""
    from interop_spark.fhir.adt import ADTActions

    ADTActions(spark)
    adt_entry.createOrReplaceTempView("adt_bundles")
    out = spark.sql(
        """
        SELECT
          filter(patient.identifier,
                 x -> x.system == 'http://hl7.org/fhir/sid/us-ssn')[0].value AS ssn,
          adt.timestamp AS event_timestamp,
          get_action(adt.messageheader.eventCoding.code).action AS action,
          patient.name[0].given[0] AS first_name
        FROM (SELECT timestamp, bundleUUID,
                     explode(MessageHeader) AS messageheader
              FROM adt_bundles) adt
        INNER JOIN (SELECT bundleUUID, explode(Patient) AS patient
                    FROM adt_bundles) patient
          ON patient.bundleUUID = adt.bundleUUID
        ORDER BY ssn DESC, timestamp DESC
        LIMIT 10
        """
    ).collect()
    assert len(out) == 4
    assert all(r.ssn and r.action for r in out)


def _write_bundle(tmp_path, name: str, resources: list[dict], ts="2024-05-01T10:00:00.000Z"):
    bundle = {
        "resourceType": "Bundle",
        "id": name,
        "type": "message",
        "timestamp": ts,
        "entry": [{"fullUrl": f"urn:uuid:{i}", "resource": r}
                  for i, r in enumerate(resources)],
    }
    (tmp_path / f"{name}.json").write_text(json.dumps(bundle))


@pytest.fixture(scope="module")
def synthea_like_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("bundles")
    patient = {
        "resourceType": "Patient",
        "id": "pat-1",
        "birthDate": "1980-02-03",
        "gender": "female",
        "name": [{"family": "Ng", "given": ["Ana"]}],
        "address": [{"city": "Springfield", "line": ["1 Main St"]}],
    }
    condition = {
        "resourceType": "Condition",
        "id": "cond-1",
        "clinicalStatus": {"coding": [{"code": "active", "system": "s"}]},
        "code": {"coding": [{"code": "C01", "system": "SNOMED",
                             "display": "Example condition"}]},
        "recordedDate": "2021-01-01",
        "subject": {"reference": "Patient/pat-1"},
    }
    claim = {
        "resourceType": "Claim",
        "id": "claim-1",
        "type": {"coding": [{"code": "837I"}]},
        "insurance": [{"coverage": {"reference": "Coverage/cov-1"}}],
        "total": {"value": 1234.5, "currency": "USD"},
        "item": [
            {"productOrService": {"coding": [
                {"code": "HC1", "system": "HCPCS", "display": "Proc one"}]}},
            {"productOrService": {"coding": [
                {"code": "HC2", "system": "HCPCS", "display": "Proc two"}]}},
        ],
        "patient": {"reference": "Patient/pat-1"},
    }
    med = {
        "resourceType": "MedicationRequest",
        "id": "med-1",
        "status": "stopped",
        "intent": "order",
        "authoredOn": "2021-03-04",
        "medicationCodeableConcept": {
            "text": "Drugx 10mg",
            "coding": [{"code": "rx-1", "system": "RxNorm"}],
        },
        "subject": {"reference": "Patient/pat-1"},
    }
    practitioner = {
        "resourceType": "Practitioner",
        "id": "doc-1",
        "active": True,
        "gender": "male",
        "telecom": [{"system": "phone", "value": "555-1234", "use": "work"}],
    }
    _write_bundle(d, "b1", [patient, condition, claim, med, practitioner])
    patient2 = dict(patient, id="pat-2")
    _write_bundle(d, "b2", [patient2, condition])
    return str(d)


def test_flattening_queries(spark, synthea_like_dir):
    from interop_spark.fhir import read_from_directory
    from interop_spark.fhir.analytics import (
        patient_claims,
        patient_conditions,
        providers_practitioners,
        omop_person,
    )

    entry = read_from_directory(synthea_like_dir, spark=spark).entry()
    pc = patient_conditions(entry).collect()
    assert len(pc) == 2
    assert {r.clinical_status for r in pc} == {"active"}
    assert {r.condition_code for r in pc} == {"C01"}

    cl = patient_claims(entry).collect()
    assert len(cl) == 1
    r = cl[0]
    assert r.claim_type_cd == "837I"
    assert r.claim_billed_amount == 1234.5
    # P3 field-pluck over array-of-struct stays array-valued
    assert sorted(r.prcdr_cd) == ["HC1", "HC2"]
    assert r.insurer == "Coverage/cov-1"

    pr = providers_practitioners(entry).collect()
    assert len(pr) == 1 and pr[0].primary_contact_value == "555-1234"

    om = {r.person_id: r for r in omop_person(entry).collect()}
    assert om["pat-1"].year_of_birth == 1980
    assert om["pat-1"].month_of_birth == 2
    assert om["pat-1"].day_of_birth == 3


def test_schema_override_medication(spark, synthea_like_dir):
    """The reference's key 'dynamic schema' flow (`01_dbignite_sample.py:118-146`):
    default MedicationRequest schema lacks medicationCodeableConcept; the
    user replaces the resource schema wholesale and re-reads."""
    from pyspark.sql.types import StringType, StructField, StructType

    from interop_spark.fhir import FhirSchemaModel, read_from_directory
    from interop_spark.fhir.analytics import medication_requests
    from interop_spark.fhir.schema import CODEABLE_CONCEPT, MEDICATION_REQUEST

    bundles = read_from_directory(synthea_like_dir, spark=spark)
    default_entry = bundles.entry()
    assert "medicationCodeableConcept" not in (
        default_entry.schema["MedicationRequest"].dataType.elementType.fieldNames()
    )

    extended = StructType(
        MEDICATION_REQUEST.fields
        + [StructField("medicationCodeableConcept", CODEABLE_CONCEPT, True)]
    )
    entry = bundles.entry(
        schemas=FhirSchemaModel().with_overrides({"MedicationRequest": extended})
    )
    mr = medication_requests(entry).collect()
    assert len(mr) == 1
    assert mr[0].rx_text == "Drugx 10mg"
    assert mr[0].rx_code == "rx-1"
    assert mr[0].code_type == "RxNorm"


def test_bulk_table_write(spark, adt_entry, tmp_path):
    from interop_spark.fhir.write import bulk_table_write, drop_table_if_exists

    drop_table_if_exists(spark, "hls_healthcare.hls_dev.Patient")
    drop_table_if_exists(spark, "hls_healthcare.hls_dev.MessageHeader")
    bulk_table_write(
        adt_entry,
        location="hls_healthcare.hls_dev",
        write_mode="overwrite",
        columns=["Patient", "MessageHeader"],
    )
    pt = spark.table("hls_healthcare_hls_dev.Patient")
    assert pt.count() == 4
    assert {"bundleUUID", "timestamp", "Patient"} <= set(pt.columns)
    # written tables support the notebook's downstream join SQL
    n = (
        pt.selectExpr("bundleUUID", "explode(Patient) AS patient")
        .join(
            spark.table("hls_healthcare_hls_dev.MessageHeader").selectExpr(
                "bundleUUID", "explode(MessageHeader) AS mh"
            ),
            "bundleUUID",
        )
        .count()
    )
    assert n == 4


def test_bulk_table_write_jobs_carry_session_tags(spark):
    """The writer pool's threads inherit the session: no "Tags will not
    be inherited" warning, and every write job carries a tag added with
    ``spark.addTag`` (read back from Spark's status store)."""
    import warnings

    from interop_spark.fhir.write import bulk_table_write

    df = spark.createDataFrame(
        [("u1", 1, 2), ("u2", 3, 4)],
        "bundleUUID string, Patient int, Condition int",
    )
    sc = spark.sparkContext._jsc.sc()

    def job_ids():
        jobs = sc.statusStore().jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    sc.listenerBus().waitUntilEmpty(30_000)
    before = {j.jobId() for j in job_ids()}
    spark.addTag("bulk-write-probe")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            bulk_table_write(
                df, "tag_probe", columns=["Patient", "Condition"]
            )
    finally:
        spark.removeTag("bulk-write-probe")
    assert not [
        w for w in caught if "Tags will not be inherited" in str(w.message)
    ]
    sc.listenerBus().waitUntilEmpty(30_000)
    writes = [
        j for j in job_ids()
        if j.jobId() not in before and j.name().startswith("saveAsTable")
    ]
    assert len(writes) >= 2
    for j in writes:
        tags = j.jobTags().toString()
        assert "-bulk-write-probe" in tags, (j.jobId(), tags)


def test_shadow_fields_and_extensions_preserved(adt_entry):
    """FHIR `_field` shadow elements and `extension` arrays must survive
    ingestion (SURVEY.md §7 hard-part (c); data: ADT_A01 Patient)."""
    from pyspark.sql import functions as F

    p = adt_entry.selectExpr("explode(Patient) AS p")
    shadow = p.select(
        F.expr(
            "get(get(filter(p.identifier, x -> x._system IS NOT NULL), 0)"
            "._system.extension, 0).valueString"
        ).alias("orig_text")
    ).where(F.col("orig_text").isNotNull())
    vals = {r.orig_text for r in shadow.collect()}
    assert "MDMH MRN" in vals

    ext = p.select(
        F.expr(
            "get(get(filter(p.extension, x -> x.url LIKE '%us-core-race%'), 0)"
            ".extension, 0).valueString"
        ).alias("race")
    ).where(F.col("race").isNotNull())
    assert ext.count() >= 1

    marital = p.select(F.get(F.col("p.maritalStatus.coding"), 0)["display"].alias("m"))
    assert "Married" in {r.m for r in marital.collect() if r.m}


def test_ctas_sink(spark, adt_entry):
    """K3: CREATE TABLE ... AS SELECT over the entry frame
    (`01_dbignite_sample.py:472-484`)."""
    from interop_spark.fhir.analytics import omop_person
    from interop_spark.fhir.write import drop_table_if_exists

    omop_person(adt_entry).createOrReplaceTempView("v_omop_src")
    drop_table_if_exists(spark, "hls_healthcare.hls_dev.OMOP_PERSON")
    spark.sql("CREATE DATABASE IF NOT EXISTS hls_healthcare_hls_dev")
    spark.sql(
        "CREATE TABLE hls_healthcare_hls_dev.OMOP_PERSON AS "
        "SELECT * FROM v_omop_src"
    )
    t = spark.table("hls_healthcare_hls_dev.OMOP_PERSON")
    assert t.count() == 4
    assert "person_id" in t.columns and "year_of_birth" in t.columns


def test_condition_text_fidelity_projection(spark):
    """The documented condition_description normalization
    (coding.display[0] instead of the reference's Condition.code.text,
    `01_dbignite_sample.py:52`) is a one-expression swap: the synthetic
    bundles carry BOTH fields, and the text-fidelity projection works
    against the same entry frame."""
    from pyspark.sql import functions as F

    from interop_spark.fhir.gen import bundle_json_df
    from interop_spark.fhir.reader import entry_from_json

    entry = entry_from_json(
        bundle_json_df(spark, "/root/testdata/sf0.001", max_custkey=50)
    )
    c = entry.select(F.explode("Condition").alias("condition")).select(
        F.get(F.col("condition.code.coding.display"), 0).alias("via_display"),
        F.col("condition.code.text").alias("via_text"),
    )
    rows = c.collect()
    assert rows and all(r.via_text is not None for r in rows)
    # same key derivation (k % 50) with distinct prefixes: swapping the
    # expression changes only the rendered string, not the join shape
    assert all(
        r.via_display.replace("cond-", "") == r.via_text.replace("condtext-", "")
        for r in rows
    )


def test_catalog_covers_synthea_types(spark, tmp_path):
    """A bundle holding the resource types a real Synthea export contains
    (reference README.md:31: Observation, Immunization, DiagnosticReport,
    Procedure) yields TYPED columns from the default data-file catalog —
    the round-3 gap where these silently produced no columns."""
    from interop_spark.fhir import read_from_directory

    bundle = {
        "resourceType": "Bundle",
        "id": "syn-1",
        "type": "transaction",
        "timestamp": "2024-02-02T00:00:00Z",
        "entry": [
            {"resource": {
                "resourceType": "Observation",
                "id": "obs-1",
                "status": "final",
                "code": {"coding": [{"system": "http://loinc.org",
                                     "code": "8302-2",
                                     "display": "Body Height"}]},
                "subject": {"reference": "Patient/p-1"},
                "effectiveDateTime": "2024-01-15T10:00:00Z",
                "valueQuantity": {"value": 172.1, "unit": "cm",
                                  "system": "http://unitsofmeasure.org",
                                  "code": "cm"},
            }},
            {"resource": {
                "resourceType": "Procedure",
                "id": "proc-1",
                "status": "completed",
                "code": {"coding": [{"system": "http://snomed.info/sct",
                                     "code": "80146002"}]},
                "subject": {"reference": "Patient/p-1"},
                "performedDateTime": "2024-01-16T09:30:00Z",
            }},
            {"resource": {
                "resourceType": "Immunization",
                "id": "imm-1",
                "status": "completed",
                "vaccineCode": {"coding": [{"code": "140"}]},
                "patient": {"reference": "Patient/p-1"},
                "occurrenceDateTime": "2024-01-17",
            }},
            {"resource": {
                "resourceType": "DiagnosticReport",
                "id": "dr-1",
                "status": "final",
                "code": {"coding": [{"code": "58410-2"}]},
                "subject": {"reference": "Patient/p-1"},
                "result": [{"reference": "Observation/obs-1"}],
            }},
        ],
    }
    d = tmp_path / "synthea"
    d.mkdir()
    (d / "b1.json").write_text(json.dumps(bundle))

    entry = read_from_directory(str(d), spark=spark).entry()
    row = entry.collect()[0]
    assert row.Observation[0].valueQuantity.value == 172.1
    assert row.Observation[0].code.coding[0].code == "8302-2"
    assert row.Procedure[0].performedDateTime == "2024-01-16T09:30:00Z"
    assert row.Immunization[0].vaccineCode.coding[0].code == "140"
    assert row.DiagnosticReport[0].result[0].reference == "Observation/obs-1"


def test_unknown_resource_type_surfaces_in_other(spark, tmp_path):
    """A resource type OUTSIDE the catalog must be auditable, not silently
    dropped: include_other=True lands it in `_other` with its raw JSON."""
    from interop_spark.fhir import read_from_directory
    from interop_spark.fhir.schema import FhirSchemaModel

    bundle = {
        "resourceType": "Bundle",
        "id": "x-1",
        "type": "transaction",
        "timestamp": "2024-02-02T00:00:00Z",
        "entry": [
            {"resource": {"resourceType": "Patient", "id": "p-9"}},
            {"resource": {"resourceType": "Basic", "id": "basic-1",
                          "code": {"coding": [{"code": "referral"}]}}},
        ],
    }
    d = tmp_path / "other"
    d.mkdir()
    (d / "b1.json").write_text(json.dumps(bundle))

    entry = read_from_directory(str(d), spark=spark).entry(include_other=True)
    row = entry.collect()[0]
    assert row.Patient[0].id == "p-9"
    assert len(row._other) == 1
    assert row._other[0].resourceType == "Basic"
    assert json.loads(row._other[0].resource)["id"] == "basic-1"

    # default stays lean: no _other column unless asked for
    assert "_other" not in read_from_directory(str(d), spark=spark).entry().columns

    # a restricted schema map pushes even KNOWN types into _other
    restricted = read_from_directory(str(d), spark=spark).entry(
        schemas=FhirSchemaModel(
            fhir_resource_map={"Patient": FhirSchemaModel().schema("Patient")}
        ),
        include_other=True,
    )
    r2 = restricted.collect()[0]
    assert {o.resourceType for o in r2._other} == {"Basic"}


def test_explode2_preserves_cross_product_and_inner_semantics(spark):
    """The r8 sequential-explode flatten must reproduce the old
    bundleUUID self-join exactly: within-bundle CROSS product for
    multi-resource bundles, and inner-join drop of bundles missing
    either resource."""
    from pyspark.sql import Row

    from interop_spark.fhir.analytics import _explode2

    entry = spark.createDataFrame(
        [
            Row(bundleUUID="b1", Patient=[Row(id="p1"), Row(id="p2")],
                Condition=[Row(id="c1"), Row(id="c2"), Row(id="c3")]),
            Row(bundleUUID="b2", Patient=[Row(id="p3")], Condition=[]),
            Row(bundleUUID="b3", Patient=[], Condition=[Row(id="c4")]),
        ]
    )
    rows = _explode2(entry, "Patient", "patient", "Condition", "condition")
    got = sorted(
        (r.bundleUUID, r.patient.id, r.condition.id) for r in rows.collect()
    )
    assert got == sorted(
        ("b1", p, c) for p in ("p1", "p2") for c in ("c1", "c2", "c3")
    )


def test_omop_drug_era_gap_and_island(spark):
    """drug_era merge semantics on constructed exposures: a gap of at
    most the 30-day persistence window fuses successive exposures into
    one era (including the exact-30 boundary); a larger gap starts a
    new era. Era bounds are the min/max exposure dates and the count
    is the number of fused exposures."""
    from pyspark.sql import Row

    from interop_spark.fhir.analytics import omop_drug_era

    def mr(mid, day):
        return Row(
            id=mid, status="active",
            medicationCodeableConcept=Row(
                coding=[Row(system="rx", code="RX1")], text="drug"
            ),
            authoredOn=day,
        )

    entry = spark.createDataFrame(
        [
            # merge (gap 20) then split (gap 101)
            Row(bundleUUID="b1", Patient=[Row(id="pA")],
                MedicationRequest=[
                    mr("m1", "2020-01-01"), mr("m2", "2020-01-21"),
                    mr("m3", "2020-05-01")]),
            # split (gap 45)
            Row(bundleUUID="b2", Patient=[Row(id="pB")],
                MedicationRequest=[
                    mr("m4", "2020-01-01"), mr("m5", "2020-02-15")]),
            # exact persistence-window boundary (gap 30) merges
            Row(bundleUUID="b3", Patient=[Row(id="pC")],
                MedicationRequest=[
                    mr("m6", "2020-01-01"), mr("m7", "2020-01-31")]),
        ]
    )
    got = {
        (r.person_id, r.era_seq): (
            r.drug_era_start_date, r.drug_era_end_date,
            r.drug_exposure_count,
        )
        for r in omop_drug_era(entry).collect()
    }
    assert got == {
        ("pA", 1): ("2020-01-01", "2020-01-21", 2),
        ("pA", 2): ("2020-05-01", "2020-05-01", 1),
        ("pB", 1): ("2020-01-01", "2020-01-01", 1),
        ("pB", 2): ("2020-02-15", "2020-02-15", 1),
        ("pC", 1): ("2020-01-01", "2020-01-31", 2),
    }


def test_omop_condition_era_shares_era_core(spark):
    """condition_era runs the SAME gap-and-island core as drug_era
    (``_era_merge``): a ≤30-day gap between successive recordings of
    one (person, SNOMED code) fuses into an era; a larger gap splits.
    Distinct concepts for one person never merge."""
    from pyspark.sql import Row

    from interop_spark.fhir.analytics import omop_condition_era

    def cond(cid, code, day):
        return Row(
            id=cid,
            clinicalStatus=Row(coding=[Row(code="active")]),
            code=Row(coding=[Row(system="sct", code=code)], text=code),
            recordedDate=day,
        )

    entry = spark.createDataFrame(
        [
            # C1: merge (gap 25) then split (gap 60); C2: independent era
            Row(bundleUUID="b1", Patient=[Row(id="pA")],
                Condition=[
                    cond("c1", "C1", "2021-01-01"),
                    cond("c2", "C1", "2021-01-26"),
                    cond("c3", "C1", "2021-03-27"),
                    cond("c4", "C2", "2021-01-10")]),
            # exact 30-day boundary merges
            Row(bundleUUID="b2", Patient=[Row(id="pB")],
                Condition=[
                    cond("c5", "C1", "2021-01-01"),
                    cond("c6", "C1", "2021-01-31")]),
        ]
    )
    got = {
        (r.person_id, r.condition_concept_code, r.era_seq): (
            r.condition_era_start_date, r.condition_era_end_date,
            r.condition_occurrence_count,
        )
        for r in omop_condition_era(entry).collect()
    }
    assert got == {
        ("pA", "C1", 1): ("2021-01-01", "2021-01-26", 2),
        ("pA", "C1", 2): ("2021-03-27", "2021-03-27", 1),
        ("pA", "C2", 1): ("2021-01-10", "2021-01-10", 1),
        ("pB", "C1", 1): ("2021-01-01", "2021-01-31", 2),
    }


def test_full_catalog_recognizes_off_catalog_types(spark, tmp_path):
    """FhirSchemaModel(full=True): every R4 resource type resolves — an
    off-catalog resource (Person; Flag, the previous exemplar, was
    promoted to the curated catalog in round 11) materializes as a typed
    spine column (id/meta/text/extension) instead of dropping into
    `_other`; Task (promoted to a deep curated schema in round 10) must
    KEEP the spine fields it had when it was spine-only (monotone
    promotion)."""
    from interop_spark.fhir import read_from_directory
    from interop_spark.fhir.schema import FhirSchemaModel

    bundle = {
        "resourceType": "Bundle",
        "id": "full-1",
        "type": "collection",
        "timestamp": "2024-03-03T00:00:00Z",
        "entry": [
            {"resource": {"resourceType": "Patient", "id": "p-1",
                          "name": [{"text": "Full Cat"}]}},
            {"resource": {"resourceType": "Task", "id": "t-1",
                          "language": "en",
                          "text": {"status": "generated",
                                   "div": "<div>do it</div>"}}},
            {"resource": {"resourceType": "Person", "id": "per-1",
                          "language": "en",
                          "text": {"status": "generated",
                                   "div": "<div>a person</div>"},
                          "meta": {"versionId": "7"}}},
        ],
    }
    d = tmp_path / "fullcat"
    d.mkdir()
    (d / "b1.json").write_text(json.dumps(bundle))

    full = FhirSchemaModel(full=True)
    assert len(full.resource_types()) >= 140  # curated + spine sets

    entry = read_from_directory(str(d), spark=spark).entry(schemas=full)
    row = entry.collect()[0]
    assert row.Patient[0].name[0].text == "Full Cat"
    assert row.Task[0].id == "t-1"
    assert row.Task[0].language == "en"
    assert row.Task[0].text.status == "generated"
    assert row.Person[0].meta.versionId == "7"
    assert row.Person[0].language == "en"
    assert row.Person[0].text.status == "generated"

    # Task (round 10) and Person (round-11 batch 4) are curated (deep)
    # and appear in the default catalog; spine-only types are dropped by
    # the default catalog (into _other only when asked). The spine-only
    # exemplars are DERIVED from the live catalog — hard-coded names
    # went stale twice (Flag promoted r11, Substance promoted r12).
    from interop_spark.fhir.schema import default_resource_map, full_resource_map

    spine_only = sorted(set(full_resource_map()) - set(default_resource_map()))
    assert spine_only, (
        "every R4 type is now curated — replace this spine-only check "
        "with a full-promotion invariant"
    )
    lean = read_from_directory(str(d), spark=spark).entry()
    assert "Task" in lean.columns and "Person" in lean.columns
    assert not set(spine_only) & set(lean.columns)


def test_ndjson_reader_type_filter_and_malformed_lines(spark, tmp_path):
    """FhirNdjson (round-10 bulk-export source): per-type extraction
    filters on the resourceType tag BEFORE typed materialization, a
    malformed line degrades to a filtered-out NULL variant (never a task
    failure), and resource_types() audits the directory."""
    from interop_spark.fhir import read_from_ndjson

    d = tmp_path / "bulk"
    d.mkdir()
    (d / "Patient.ndjson").write_text(
        '{"resourceType":"Patient","id":"p-1","gender":"male"}\n'
        '{"resourceType":"Patient","id":"p-2","gender":"female"}\n'
        "this line is not json\n"
    )
    (d / "Observation.ndjson").write_text(
        '{"resourceType":"Observation","id":"o-1","status":"final",'
        '"valueQuantity":{"value":1.5,"unit":"cm"}}\n'
    )
    (d / "ignore.txt").write_text("not an export file\n")

    nd = read_from_ndjson(str(d), spark=spark, glob_filter="*.ndjson")

    pats = {r.id: r for r in nd.resource("Patient").collect()}
    assert set(pats) == {"p-1", "p-2"}
    assert pats["p-1"].gender == "male"
    assert "_file_path" in nd.resource("Patient").columns

    obs = nd.resource("Observation").collect()
    assert len(obs) == 1 and obs[0].valueQuantity.value == 1.5

    counts = {r.resourceType: r.n_resources for r in nd.resource_types().collect()}
    # the malformed line surfaces as a NULL tag in the audit (visible,
    # not silently dropped) and never reaches a typed resource frame
    assert counts == {"Patient": 2, "Observation": 1, None: 1}


def test_bulk_ndjson_write_roundtrip(spark, tmp_path):
    """Sink/source pair: entry() bundle-rows → bulk_ndjson_write ($export
    layout, distributed part files of JSON lines) → FhirNdjson.resource
    reads every resource back typed, per directory."""
    from interop_spark.fhir import read_from_directory, read_from_ndjson
    from interop_spark.fhir.write import bulk_ndjson_write

    entry = read_from_directory(ADT_DIR, spark=spark).entry()
    out = tmp_path / "export"
    bulk_ndjson_write(entry, str(out), columns=["Patient", "MessageHeader"])

    nd = read_from_ndjson(str(out / "Patient"), spark=spark)
    pats = nd.resource("Patient").collect()
    src_ids = {
        p.id for r in entry.select("Patient").collect() for p in (r.Patient or [])
    }
    assert {p.id for p in pats} == src_ids and len(pats) == 4
    # typed nested fields survive the explode -> to_json -> parse loop
    assert all(p.name and p.name[0].family for p in pats)

    mh = read_from_ndjson(str(out / "MessageHeader"), spark=spark)
    heads = mh.resource("MessageHeader").collect()
    assert len(heads) == 4 and all(h.eventCoding.code for h in heads)
    # the tag filter keeps types apart even in a per-type directory
    assert nd.resource("MessageHeader").count() == 0


def test_bundles_from_ndjson_bridge(spark, tmp_path):
    """bundles_from_ndjson (round-11): per-type $export files assemble
    into one bundle row per patient — full-outer across types (a
    patient missing a type gets a NULL array, matching entry()'s
    absent-type contract; a resource whose patient has no Patient row
    still gets its own row), deterministic bundleUUID from the
    ndjson:// provenance, and a type with no patient-compartment
    reference in its schema is rejected loudly."""
    import hashlib

    import pytest as _pytest

    from interop_spark.fhir import bundles_from_ndjson, read_from_ndjson

    d = tmp_path / "export"
    d.mkdir()
    (d / "Patient.ndjson").write_text(
        '{"resourceType":"Patient","id":"p-1","gender":"male"}\n'
        '{"resourceType":"Patient","id":"p-2","gender":"female"}\n'
    )
    (d / "Condition.ndjson").write_text(
        '{"resourceType":"Condition","id":"c-1",'
        '"subject":{"reference":"Patient/p-1"}}\n'
        '{"resourceType":"Condition","id":"c-2",'
        '"subject":{"reference":"Patient/p-1"}}\n'
        '{"resourceType":"Condition","id":"c-3",'
        '"subject":{"reference":"Patient/p-3"}}\n'
    )
    nd = read_from_ndjson(str(d), spark=spark)
    entry = bundles_from_ndjson(nd, ["Patient", "Condition"])
    rows = {r.bundleId: r for r in entry.collect()}
    assert set(rows) == {"Patient/p-1", "Patient/p-2", "Patient/p-3"}
    # full compartment
    assert {c.id for c in rows["Patient/p-1"].Condition} == {"c-1", "c-2"}
    assert rows["Patient/p-1"].Patient[0].gender == "male"
    # patient with no conditions: NULL array (explode yields no rows)
    assert rows["Patient/p-2"].Condition is None
    # condition whose patient is absent from the export keeps its row
    assert rows["Patient/p-3"].Patient is None
    assert [c.id for c in rows["Patient/p-3"].Condition] == ["c-3"]
    # deterministic UUID from the synthetic provenance
    h = hashlib.md5(b"ndjson://Patient/p-1").hexdigest()
    expect = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
    assert rows["Patient/p-1"].bundleUUID == expect
    # explode-based analytics shape: same as entry()
    n = entry.selectExpr("explode(Condition) AS c").count()
    assert n == 3
    # a type with no subject/patient reference cannot be attributed
    with _pytest.raises(ValueError, match="Practitioner"):
        bundles_from_ndjson(nd, ["Practitioner"])


def test_bundles_from_ndjson_compartment_attribution(spark, tmp_path):
    """Bridge attribution beyond subject/patient structs (round-12):
    Coverage keys on ``beneficiary.reference`` (the R4 patient-
    compartment path — the type has neither subject nor patient),
    Account keys on its 0..* ``subject`` Reference ARRAY — a resource
    naming two patients lands in BOTH bundle rows (compartment fan-out)
    and appears exactly once per bundle even when listed twice
    (array_distinct) — and a null/absent ref inside the array is
    dropped, not attributed."""
    from interop_spark.fhir import bundles_from_ndjson, read_from_ndjson

    d = tmp_path / "export"
    d.mkdir()
    (d / "Patient.ndjson").write_text(
        '{"resourceType":"Patient","id":"p-1"}\n'
        '{"resourceType":"Patient","id":"p-2"}\n'
    )
    (d / "Coverage.ndjson").write_text(
        '{"resourceType":"Coverage","id":"cov-1","status":"active",'
        '"beneficiary":{"reference":"Patient/p-1"}}\n'
        '{"resourceType":"Coverage","id":"cov-2","status":"cancelled",'
        '"beneficiary":{"reference":"Patient/p-2"}}\n'
    )
    (d / "Account.ndjson").write_text(
        # names BOTH patients -> one row in each bundle
        '{"resourceType":"Account","id":"a-shared","subject":'
        '[{"reference":"Patient/p-1"},{"reference":"Patient/p-2"}]}\n'
        # duplicate ref -> attributed ONCE (array_distinct)
        '{"resourceType":"Account","id":"a-dup","subject":'
        '[{"reference":"Patient/p-1"},{"reference":"Patient/p-1"}]}\n'
        # null ref element + real ref -> null dropped, real kept
        '{"resourceType":"Account","id":"a-null","subject":'
        '[{"display":"no ref"},{"reference":"Patient/p-2"}]}\n'
        # no refs at all -> dropped entirely
        '{"resourceType":"Account","id":"a-orphan","subject":[]}\n'
    )
    (d / "AllergyIntolerance.ndjson").write_text(
        '{"resourceType":"AllergyIntolerance","id":"alg-1",'
        '"criticality":"high","patient":{"reference":"Patient/p-1"}}\n'
    )
    nd = read_from_ndjson(str(d), spark=spark)
    entry = bundles_from_ndjson(
        nd, ["Patient", "Coverage", "Account", "AllergyIntolerance"]
    )
    rows = {r.bundleId: r for r in entry.collect()}
    assert set(rows) == {"Patient/p-1", "Patient/p-2"}
    assert [c.id for c in rows["Patient/p-1"].Coverage] == ["cov-1"]
    assert [c.id for c in rows["Patient/p-2"].Coverage] == ["cov-2"]
    assert sorted(a.id for a in rows["Patient/p-1"].Account) == [
        "a-dup",
        "a-shared",
    ]
    assert sorted(a.id for a in rows["Patient/p-2"].Account) == [
        "a-null",
        "a-shared",
    ]
    assert rows["Patient/p-1"].AllergyIntolerance[0].criticality == "high"
    assert rows["Patient/p-2"].AllergyIntolerance is None


def test_bridge_matches_bundle_path_on_same_corpus(spark, tmp_path):
    """The SAME resources ingested as transaction bundles and as a
    $export NDJSON directory produce identical patient_conditions rows
    (modulo the bundleUUID provenance column, which is derived from the
    file path on one side and the ndjson:// patient key on the other) —
    the bridge's whole point: one analytics surface over both FHIR
    at-rest layouts."""
    import json as _json

    from interop_spark.fhir import (
        bundles_from_ndjson,
        read_from_directory,
        read_from_ndjson,
    )
    from interop_spark.fhir.analytics import patient_conditions

    pats, conds = [], []
    for i in range(12):
        pats.append(
            {
                "resourceType": "Patient",
                "id": f"p-{i}",
                "birthDate": f"19{50 + i}-01-0{i % 9 + 1}",
            }
        )
        for j in range(i % 3):  # 0..2 conditions per patient
            conds.append(
                {
                    "resourceType": "Condition",
                    "id": f"c-{i}-{j}",
                    "clinicalStatus": {"coding": [{"code": "active"}]},
                    "code": {
                        "coding": [
                            {"system": "s", "code": f"C{j}", "display": f"d{j}"}
                        ]
                    },
                    "subject": {"reference": f"Patient/p-{i}"},
                    "recordedDate": f"202{j}-02-03",
                }
            )
    bd = tmp_path / "bundles"
    bd.mkdir()
    for i, p in enumerate(pats):
        entry = [{"resource": p}] + [
            {"resource": c}
            for c in conds
            if c["subject"]["reference"] == f"Patient/{p['id']}"
        ]
        (bd / f"b{i}.json").write_text(
            _json.dumps(
                {
                    "resourceType": "Bundle",
                    "id": f"b{i}",
                    "type": "transaction",
                    "entry": entry,
                }
            )
        )
    nd_dir = tmp_path / "export"
    nd_dir.mkdir()
    (nd_dir / "Patient.ndjson").write_text(
        "\n".join(_json.dumps(p) for p in pats) + "\n"
    )
    (nd_dir / "Condition.ndjson").write_text(
        "\n".join(_json.dumps(c) for c in conds) + "\n"
    )

    via_bundles = patient_conditions(
        read_from_directory(str(bd), spark=spark).entry()
    )
    via_bridge = patient_conditions(
        bundles_from_ndjson(
            read_from_ndjson(str(nd_dir), spark=spark),
            ["Patient", "Condition"],
        )
    )
    cols = [c for c in via_bundles.columns if c != "UNIQUE_FHIR_ID"]
    assert cols == [c for c in via_bridge.columns if c != "UNIQUE_FHIR_ID"]
    a = sorted(map(tuple, via_bundles.select(cols).collect()))
    b = sorted(map(tuple, via_bridge.select(cols).collect()))
    assert a == b
    assert len(a) == len(conds)


def test_omop_observation_domain_split(spark):
    """The OMOP domain decision, pinned: laboratory / vital-signs
    categories belong to measurement and are EXCLUDED here; any other
    category (social-history, survey) lands in the observation table
    with the value as a coded concept; a category-less Observation maps
    to neither table (unknowable domain)."""
    from pyspark.sql import Row

    from interop_spark.fhir.analytics import omop_observation

    def obs(oid, cats, vcc=None):
        return Row(
            id=oid,
            subject=Row(reference="Patient/p1"),
            category=(
                [Row(coding=[Row(system="s", code=c)]) for c in cats]
                if cats is not None else None
            ),
            code=Row(coding=[Row(system="http://loinc.org", code="72166-2")]),
            effectiveDateTime="2021-05-04T10:00:00Z",
            valueCodeableConcept=(
                Row(coding=[Row(system="sct", code=vcc, display="disp")])
                if vcc else None
            ),
        )

    frame = spark.createDataFrame(
        [
            obs("lab", ["laboratory"]),
            obs("vit", ["vital-signs"]),
            obs("sh", ["social-history"], vcc="8517006"),
            obs("survey", ["survey"], vcc="LA33-6"),
            obs("none", None),
        ]
    )
    got = {
        r.observation_id: (
            r.person_id, r.observation_date, r.value_as_concept_code
        )
        for r in omop_observation(frame).collect()
    }
    assert got == {
        "sh": ("p1", "2021-05-04", "8517006"),
        "survey": ("p1", "2021-05-04", "LA33-6"),
    }


def test_omop_specimen_projection(spark):
    """Specimen → CDM specimen: concept from type, date from
    collection.collectedDateTime (string-typed per the driver date
    contract), quantity/unit from collection.quantity."""
    from pyspark.sql import Row

    from interop_spark.fhir.analytics import omop_specimen

    frame = spark.createDataFrame(
        [
            Row(
                id="s1",
                status="available",
                subject=Row(reference="Patient/p9"),
                type=Row(coding=[Row(system="v2", code="SER",
                                     display="Serum")]),
                collection=Row(
                    collectedDateTime="2020-02-29T08:15:00Z",
                    quantity=Row(value=7.5, unit="mL"),
                ),
            )
        ]
    )
    (r,) = omop_specimen(frame).collect()
    assert (
        r.specimen_id, r.person_id, r.specimen_concept_code,
        r.specimen_source_value, r.specimen_date, r.quantity,
        r.unit_source_value, r.status_source_value,
    ) == ("s1", "p9", "SER", "Serum", "2020-02-29", 7.5, "mL", "available")


def test_omop_device_era_shares_era_core(spark):
    """device_era is the FOURTH consumer of ``_era_merge``: the wear
    history resolves the within-bundle Device reference (concept comes
    from the Device, person/date from the DeviceUseStatement), then
    merges per (person, device concept) under the 30-day window."""
    from pyspark.sql import Row

    from interop_spark.fhir.analytics import omop_device_era

    def dus(did, dev_ref, start):
        return Row(
            id=did,
            status="active",
            subject=Row(reference="Patient/pA"),
            timingPeriod=Row(start=start, end=start),
            device=Row(reference=dev_ref),
        )

    dev = Row(
        id="d1",
        type=Row(coding=[Row(system="sct", code="DV7")]),
        udiCarrier=[Row(deviceIdentifier="UDI-1")],
    )
    entry = spark.createDataFrame(
        [
            Row(
                bundleUUID="b1",
                Device=[dev],
                DeviceUseStatement=[
                    dus("u1", "Device/d1", "2022-01-01"),
                    dus("u2", "Device/d1", "2022-01-31"),  # gap 30: fuse
                    dus("u3", "Device/d1", "2022-04-01"),  # gap 60: split
                    dus("u4", "Device/other", "2022-01-05"),  # dangling
                ],
            )
        ]
    )
    got = {
        (r.person_id, r.device_concept_code, r.era_seq): (
            r.device_era_start_date, r.device_era_end_date,
            r.device_exposure_count,
        )
        for r in omop_device_era(entry).collect()
    }
    assert got == {
        ("pA", "DV7", 1): ("2022-01-01", "2022-01-31", 2),
        ("pA", "DV7", 2): ("2022-04-01", "2022-04-01", 1),
    }


def test_omop_note_decodes_base64_payload(spark):
    """The note mapping must DECODE content.attachment.data (base64),
    not pass the payload through — and strip the person prefix / date
    time part like every other CDM mapping."""
    import base64

    from pyspark.sql import Row

    from interop_spark.fhir.analytics import omop_note

    body = "Patient reports improvement after therapy."
    frame = spark.createDataFrame(
        [
            Row(
                id="n1",
                status="current",
                subject=Row(reference="Patient/p7"),
                date="2022-03-04T09:00:00Z",
                type=Row(coding=[Row(system="http://loinc.org",
                                     code="11506-3")]),
                content=[
                    Row(
                        attachment=Row(
                            contentType="text/plain",
                            data=base64.b64encode(
                                body.encode()
                            ).decode(),
                            title="visit-note",
                        )
                    )
                ],
            )
        ]
    )
    (r,) = omop_note(frame).collect()
    assert (
        r.note_id, r.person_id, r.note_date, r.note_class_concept_code,
        r.note_title, r.note_text, r.encoding_source_value,
    ) == ("n1", "p7", "2022-03-04", "11506-3", "visit-note", body,
          "text/plain")


def test_table_name_resolution_fires_no_spark_job(spark):
    """``resolve_table_name`` decides whether the first part of a
    location names a catalog from the session conf, so neither it nor
    ``drop_table_if_exists`` fires a Spark job (``listCatalogs`` did,
    on every call); 1-, 2- and 3-part locations keep their names."""
    from interop_spark.fhir.write import drop_table_if_exists, resolve_table_name

    sc = spark.sparkContext
    group = "table-name-resolution"
    sc.setJobGroup(group, group)
    try:
        names = [
            resolve_table_name(spark, loc, "Patient")
            for loc in (
                "rtn_db",
                "rtn_hls.rtn_dev",
                "rtn_cat.rtn_hls.rtn_dev",
                "spark_catalog.rtn_db2",
            )
        ]
        drop_table_if_exists(spark, "rtn_cat.rtn_hls.rtn_dev.Patient")
        drop_table_if_exists(spark, "rtn_db.Patient")
        drop_table_if_exists(spark, "rtn_plain_table")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert names == [
        "`rtn_db`.`Patient`",
        "`rtn_hls_rtn_dev`.`Patient`",
        "`rtn_cat_rtn_hls_rtn_dev`.`Patient`",
        "`spark_catalog`.`rtn_db2`.`Patient`",
    ]
    assert not sc.statusTracker().getJobIdsForGroup(group)
