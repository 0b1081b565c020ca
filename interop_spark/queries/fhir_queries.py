"""FHIR-engine queries for the driver contract.

``bundle_collect_flatten`` exercises the entry()-DataFrame semantics
(S3/P1/P3/P5: group-to-array, nested struct build, field-pluck over
array-of-struct, explode back) on the fixture tables with a DuckDB oracle.

The remaining queries run the actual FHIR subsystem end-to-end, each with
a full value-hash oracle:

- ``fhir_adt_timeline`` — reader over the reference's 4 ADT sample
  bundles; the output is deterministic, so the oracle pins it as a
  VALUES literal (any reader/parser regression flips the hash).
- ``fhir_writer_roundtrip`` — customer rows → FHIR JSON → re-parse; a
  correct writer must reproduce the source rows exactly, so the oracle is
  the source projection itself.
- ``multimodal_features`` — mapInPandas Arrow plumbing with the
  deterministic fake decode; byte length + sha256 are engine-independent,
  so DuckDB computes the same values natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from interop_spark.io import load

ADT_DIR = "file:///root/reference/sampledata/adt_records/"


def q_bundle_collect_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bundle-row semantics on relational data: one 'bundle' per customer
    holding an array<struct> of orders (S3), then explode + dotted-path
    flatten (P1/P3/P5) back to rows — multiset-identical to the flat join,
    which is the oracle."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    bundles = (
        orders.groupBy("o_custkey")
        .agg(
            F.collect_list(
                F.struct(
                    col("o_orderkey").alias("id"),
                    col("o_orderstatus").alias("status"),
                    F.struct(col("o_totalprice").alias("value")).alias("total"),
                )
            ).alias("Order")
        )
        .join(F.broadcast(customer), col("o_custkey") == col("c_custkey"))
    )
    return bundles.select(
        col("c_name").alias("customer_name"),
        F.explode("Order").alias("order"),
    ).select(
        "customer_name",
        col("order.id").alias("order_id"),
        col("order.status").alias("order_status"),
        F.round(col("order.total.value"), 2).alias("billed_amount"),
    )


def q_fhir_adt_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FHIR path end-to-end (reader → explode → HOF identifier
    extraction → get_action → join → sort): 4 deterministic rows from the
    reference's own sample bundles, value-hash-checked against a pinned
    VALUES oracle. The timestamp is rendered as a UTC string so the
    comparison is session-timezone-independent."""
    from interop_spark.fhir import read_from_directory
    from interop_spark.fhir.analytics import adt_events

    entry = read_from_directory(ADT_DIR, spark=spark).entry()
    return adt_events(entry).withColumn(
        "event_timestamp",
        F.date_format(
            F.convert_timezone(None, F.lit("UTC"), col("event_timestamp")),
            "yyyy-MM-dd HH:mm:ss.SSS",
        ),
    )


def q_fhir_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer path (§2.10): customer rows → FHIR Patient+Claim bundles →
    JSON → re-parse engine-side. A correct writer reproduces the source
    rows exactly, so the oracle is the source projection — any
    encoder/mapping regression flips the value hash.

    Typed-leaf coverage (the `ADT_A01_FHIR.json` shapes): an integer
    (Patient.multipleBirthInteger), a Money decimal under a repeated
    segment (Claim.item.unitPrice.value — must emit a JSON number and
    survive the double round-trip bit-exactly), a Period
    (Claim.billablePeriod.start/end — two string leaves under one
    non-repeated complex element), an R4 unsignedInt
    (MedicationRequest.dispenseRequest.numberOfRepeatsAllowed — JSON
    number), an `instant` from a TIMESTAMP_NTZ source
    (Observation.issued — the writer must emit the ISO-8601 'T' form,
    not the space-separated string a plain cast produces), and the
    urn-valued uri leaves: a bare OID source (Patient.identifier.system
    — must emit urn:oid:…), a bare UUID source
    (MedicationRequest.identifier.system — must emit urn:uuid:…), and
    an http system (Claim.identifier.system, via a literal mapping)
    that must pass through UNprefixed. Round-10 widens with an
    Attachment path (DocumentReference.content.attachment — the
    repeated `content` segment): base64Binary `data` from a raw text
    source (writer must emit its base64; round-trip re-decodes it), an
    unsignedInt `size`, a plain-passthrough `url`, and a literal
    `contentType`."""
    from interop_spark.fhir import Bundle, Mapping, MappingManager

    src = (
        load(spark, sf_dir, "customer")
        .where(col("c_custkey") < 50)
        .select(
            col("c_custkey").cast("string").alias("CUST_ID"),
            col("c_name").alias("CUST_NAME"),
            # non-string leaf: the oracle guards the writer's typed-leaf
            # encoding (JSON number, not string) end-to-end
            (col("c_custkey") % 4).cast("int").alias("MULTI_BIRTH"),
            (col("c_custkey") + 100000).cast("string").alias("CLM_ID"),
            col("c_acctbal").alias("CLM_UNIT_PRICE"),
            F.date_format(
                F.date_add(F.lit("1995-01-01").cast("date"),
                           (col("c_custkey") % 28).cast("int")),
                "yyyy-MM-dd",
            ).alias("CLM_START"),
            F.date_format(
                F.date_add(F.lit("1995-01-01").cast("date"),
                           (col("c_custkey") % 28).cast("int") + 30),
                "yyyy-MM-dd",
            ).alias("CLM_END"),
            (col("c_custkey") + 200000).cast("string").alias("MED_ID"),
            (col("c_custkey") % 5).cast("int").alias("MED_REFILLS"),
            (col("c_custkey") + 300000).cast("string").alias("OBS_ID"),
            F.expr(
                "make_timestamp_ntz(1995, 1, 1,"
                " CAST(c_custkey % 24 AS INT),"
                " CAST(c_custkey % 60 AS INT), 0)"
            ).alias("OBS_ISSUED"),
            # bare OID → writer must emit urn:oid:…
            F.concat(
                F.lit("2.16.840.1."), col("c_custkey").cast("string")
            ).alias("PAT_ID_SYSTEM"),
            F.concat(F.lit("ssn-"), col("c_custkey").cast("string")).alias(
                "PAT_SSN"
            ),
            # bare UUID (deterministic, from the row key) → urn:uuid:…
            F.concat_ws(
                "-",
                F.substring(F.md5(col("c_custkey").cast("string")), 1, 8),
                F.substring(F.md5(col("c_custkey").cast("string")), 9, 4),
                F.substring(F.md5(col("c_custkey").cast("string")), 13, 4),
                F.substring(F.md5(col("c_custkey").cast("string")), 17, 4),
                F.substring(F.md5(col("c_custkey").cast("string")), 21, 12),
            ).alias("MED_URN"),
            # Attachment path (round-10 writer-residue widening): raw
            # text content the writer must emit as base64Binary, plus
            # the unsignedInt size and plain-url leaves
            (col("c_custkey") + 400000).cast("string").alias("DOC_ID"),
            F.concat(
                F.lit("doc-note "), col("c_custkey").cast("string")
            ).alias("DOC_NOTE"),
            (col("c_custkey") % 900 + 100).cast("int").alias("DOC_SIZE"),
            F.concat(
                F.lit("http://files.example.org/doc-"),
                col("c_custkey").cast("string"),
            ).alias("DOC_URL"),
        )
    )
    maps = [
        Mapping("CUST_ID", "Patient.id"),
        Mapping("CUST_NAME", "Patient.name.text"),
        Mapping("MULTI_BIRTH", "Patient.multipleBirthInteger"),
        Mapping("PAT_ID_SYSTEM", "Patient.identifier.system"),
        Mapping("PAT_SSN", "Patient.identifier.value"),
        Mapping("CLM_ID", "Claim.id"),
        Mapping(
            "http://example.org/claims", "Claim.identifier.system",
            literal=True,
        ),
        Mapping("CLM_ID", "Claim.identifier.value"),
        Mapping("MED_URN", "MedicationRequest.identifier.system"),
        Mapping("CLM_UNIT_PRICE", "Claim.item.unitPrice.value"),
        Mapping("CLM_START", "Claim.billablePeriod.start"),
        Mapping("CLM_END", "Claim.billablePeriod.end"),
        Mapping("MED_ID", "MedicationRequest.id"),
        Mapping(
            "MED_REFILLS",
            "MedicationRequest.dispenseRequest.numberOfRepeatsAllowed",
        ),
        Mapping("OBS_ID", "Observation.id"),
        Mapping("OBS_ISSUED", "Observation.issued"),
        Mapping("DOC_ID", "DocumentReference.id"),
        Mapping(
            "text/plain",
            "DocumentReference.content.attachment.contentType",
            literal=True,
        ),
        Mapping("DOC_NOTE", "DocumentReference.content.attachment.data"),
        Mapping("DOC_SIZE", "DocumentReference.content.attachment.size"),
        Mapping("DOC_URL", "DocumentReference.content.attachment.url"),
    ]
    emitted = Bundle(MappingManager(maps, src.schema)).df_to_fhir_df(src)
    v = emitted.select(F.try_parse_json(col("value")).alias("v"))
    return v.select(
        F.variant_get("v", "$.entry[0].resource.id", "string").alias("patient_id"),
        F.variant_get(
            "v", "$.entry[0].resource.name[0].text", "string"
        ).alias("patient_name"),
        F.variant_get(
            "v", "$.entry[0].resource.multipleBirthInteger", "bigint"
        ).alias("multiple_birth"),
        F.variant_get(
            "v", "$.entry[1].resource.id", "string"
        ).alias("claim_id"),
        F.variant_get(
            "v", "$.entry[1].resource.item[0].unitPrice.value", "double"
        ).alias("unit_price"),
        F.variant_get(
            "v", "$.entry[1].resource.billablePeriod.start", "string"
        ).alias("period_start"),
        F.variant_get(
            "v", "$.entry[1].resource.billablePeriod.end", "string"
        ).alias("period_end"),
        F.variant_get(
            "v", "$.entry[2].resource.id", "string"
        ).alias("med_id"),
        F.variant_get(
            "v",
            "$.entry[2].resource.dispenseRequest.numberOfRepeatsAllowed",
            "bigint",
        ).alias("med_refills"),
        F.variant_get(
            "v", "$.entry[3].resource.id", "string"
        ).alias("obs_id"),
        F.variant_get(
            "v", "$.entry[3].resource.issued", "string"
        ).alias("obs_issued"),
        F.variant_get(
            "v", "$.entry[0].resource.identifier[0].system", "string"
        ).alias("pat_id_system"),
        F.variant_get(
            "v", "$.entry[0].resource.identifier[0].value", "string"
        ).alias("pat_ssn"),
        F.variant_get(
            "v", "$.entry[1].resource.identifier[0].system", "string"
        ).alias("claim_system"),
        F.variant_get(
            "v", "$.entry[1].resource.identifier[0].value", "string"
        ).alias("claim_id2"),
        F.variant_get(
            "v", "$.entry[2].resource.identifier[0].system", "string"
        ).alias("med_urn"),
        F.variant_get(
            "v", "$.entry[4].resource.id", "string"
        ).alias("doc_id"),
        F.variant_get(
            "v",
            "$.entry[4].resource.content[0].attachment.contentType",
            "string",
        ).alias("doc_content_type"),
        F.variant_get(
            "v", "$.entry[4].resource.content[0].attachment.data", "string"
        ).alias("doc_data_b64"),
        F.unbase64(
            F.variant_get(
                "v",
                "$.entry[4].resource.content[0].attachment.data",
                "string",
            )
        ).cast("string").alias("doc_note"),
        F.variant_get(
            "v", "$.entry[4].resource.content[0].attachment.size", "bigint"
        ).alias("doc_size"),
        F.variant_get(
            "v", "$.entry[4].resource.content[0].attachment.url", "string"
        ).alias("doc_url"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over mapInPandas: documents' text re-encoded as
    binary payloads → Arrow-batched feature extraction (the decode is the
    deterministic stub). n_bytes/sha256 are engine-independent functions
    of the payload, so the oracle recomputes them in DuckDB."""
    from interop_spark.operators.multimodal import extract_features

    d = load(spark, sf_dir, "documents").where(col("doc_id") < 100)
    media = d.select(
        col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(col("text"), "utf-8").alias("data"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("n_frames"),
        F.lit("txt").alias("format"),
    )
    out = extract_features(media)
    return out.select(
        "media_id", "n_bytes", "sha256", F.size("features").alias("feat_dim")
    )


# --------------------------------------------------------------------------
# Flattening analytics over the synthetic bundle corpus (fhir/gen.py):
# every resource field is a closed-form function of c_custkey, so each
# notebook analytics projection gets a RELATIONAL oracle over `customer`
# that the whole JSON-encode → variant-parse → typed-extract → explode/
# join path must reproduce value-for-value.
# --------------------------------------------------------------------------

_SYNTH_LIMIT = 400  # bundles in the in-memory fixture (sf0.01 has 1500)
_CORPUS_LIMIT = 1200  # bundles in the on-disk reader-throughput corpus


# One JSON-encode → variant-parse per (session, sf, schema-map): the five
# synthetic analytics queries share the materialized entry frame instead
# of re-running the encode+parse subtree each (round-3 verdict item) —
# the localCheckpoint lives for the session, exactly the driver's
# correctness-gate usage pattern. Bounded: each entry pins checkpoint
# RDD blocks for the application lifetime, so insertion evicts (and
# unpersists) entries from other applications and, past a small cap,
# the oldest entries of the current one — a long-lived session cycling
# schema maps would otherwise leak executor storage.
_ENTRY_CACHE: dict = {}
_ENTRY_CACHE_MAX = 8  # distinct (sf_dir, schema-map) frames per app


def _entry_cache_evict(app_id: str) -> None:
    """Drop entries from other applications and, past the cap, the
    oldest entries of the current one. Releasing the py4j reference is
    what frees the storage: the checkpoint blocks belong to the
    Dataset's internal RDD (``df.unpersist()`` doesn't reach them), and
    Spark's ContextCleaner unpersists an RDD once its JVM object is
    unreachable — which dropping the dict reference makes it."""
    stale = [k for k in _ENTRY_CACHE if k[0] != app_id]
    while len(_ENTRY_CACHE) - len(stale) >= _ENTRY_CACHE_MAX:
        # dicts iterate in insertion order → first same-app key is oldest
        stale.append(
            next(k for k in _ENTRY_CACHE if k[0] == app_id and k not in stale)
        )
    for k in stale:
        del _ENTRY_CACHE[k]


def _synthetic_entry(spark: SparkSession, sf_dir: str, schemas=None):
    from interop_spark.fhir.gen import bundle_json_df
    from interop_spark.fhir.reader import entry_from_json

    schema_key = (
        None
        if schemas is None
        else tuple(
            (rt, schemas.schema(rt).simpleString())
            for rt in sorted(schemas.resource_types())
        )
    )
    key = (spark.sparkContext.applicationId, sf_dir, schema_key)
    df = _ENTRY_CACHE.get(key)
    if df is None:
        _entry_cache_evict(key[0])
        raw = bundle_json_df(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
        df = entry_from_json(raw, schemas=schemas).localCheckpoint(eager=False)
        _ENTRY_CACHE[key] = df
    return df


def q_fhir_patient_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patient × Condition flattening (`01_dbignite_sample.py:47-72`) over
    the synthetic corpus, end-to-end through the reader's parse path."""
    from interop_spark.fhir.analytics import patient_conditions

    return patient_conditions(_synthetic_entry(spark, sf_dir))


def q_fhir_patient_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patient × Claim flattening (`01_dbignite_sample.py:82-112`). The
    prcdr_* item[]×coding[] columns are array<string>; they are rendered
    with array_join for the hash compare (arrays never cross the driver
    compare — pandas renders Spark lists vs DuckDB arrays differently)."""
    from interop_spark.fhir.analytics import patient_claims

    out = patient_claims(_synthetic_entry(spark, sf_dir))
    return out.select(
        *[c for c in out.columns if not c.startswith("prcdr_")],
        *[
            F.array_join(col(c), "|").alias(c)
            for c in ("prcdr_description", "prcdr_cd", "prcdr_coding_system")
        ],
    )


def q_fhir_medication_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patient × MedicationRequest (`01_dbignite_sample.py:151-174`) —
    exercises the S4 schema-override path: the default MedicationRequest
    schema LACKS medicationCodeableConcept (matching the reference) and
    the query must extend it (`01_dbignite_sample.py:118-146`)."""
    from pyspark.sql.types import StructField, StructType

    from interop_spark.fhir.analytics import medication_requests
    from interop_spark.fhir.schema import (
        CODEABLE_CONCEPT,
        MEDICATION_REQUEST,
        FhirSchemaModel,
    )

    extended = StructType(
        MEDICATION_REQUEST.fields
        + [StructField("medicationCodeableConcept", CODEABLE_CONCEPT, True)]
    )
    schemas = FhirSchemaModel().with_overrides({"MedicationRequest": extended})
    return medication_requests(_synthetic_entry(spark, sf_dir, schemas=schemas))


def q_fhir_providers_practitioners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Practitioner contact-point flattening (`01_dbignite_sample.py:186-206`)."""
    from interop_spark.fhir.analytics import providers_practitioners

    return providers_practitioners(_synthetic_entry(spark, sf_dir))


def q_fhir_omop_person(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP CDM person projection (`01_dbignite_sample.py:472-484`). The
    name/address array<struct> columns are rendered to their first
    element's scalar fields for the hash compare."""
    from interop_spark.fhir.analytics import omop_person

    o = omop_person(_synthetic_entry(spark, sf_dir))
    first_name = F.get(col("name"), 0)
    return o.select(
        "person_id",
        F.get(first_name["given"], 0).alias("given_name"),
        first_name["family"].alias("family_name"),
        "gender_source_value",
        "year_of_birth",
        "month_of_birth",
        "day_of_birth",
        F.get(col("patient_address"), 0)["city"].alias("city"),
    )


def q_fhir_patient_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patient × Observation flattening over the synthetic corpus — the
    first query through the data-file catalog's Synthea types (round-4:
    Observation schemas existed nowhere in round 3). valueQuantity.value
    is a double computed identically in both engines (int + m/10.0) and
    JSON shortest-repr round-trips it exactly."""
    from interop_spark.fhir.analytics import patient_observations

    return patient_observations(_synthetic_entry(spark, sf_dir))


def q_fhir_condition_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condition text-fidelity projection: code.text (the reference's
    choice, `01_dbignite_sample.py:52`) alongside coding[0].display —
    pins that the parse path carries free-text fields, not only coded
    ones (STATUS round-3 'known gaps' candidate)."""
    from interop_spark.fhir.analytics import condition_text

    return condition_text(_synthetic_entry(spark, sf_dir))


def q_fhir_diagnostic_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patient × DiagnosticReport flattening — the lab-report type a real
    Synthea corpus carries (reference README.md:31), end-to-end through
    the reader's parse path (r9 verdict item 3's named query)."""
    from interop_spark.fhir.analytics import diagnostic_reports

    return diagnostic_reports(_synthetic_entry(spark, sf_dir))


def q_fhir_questionnaire_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QuestionnaireResponse item/answer flattening through the round-10
    promoted deep schema (DomainResource spine → full element tree with
    repeated item[]/answer[] value[x] leaves). Proves promoted types
    flatten end-to-end without a user override
    (`01_dbignite_sample.py:123-146` is the override surface this
    removes the need for)."""
    from interop_spark.fhir.analytics import questionnaire_answers

    return questionnaire_answers(_synthetic_entry(spark, sf_dir))


def q_fhir_mixed_resource_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-corpus FULL-catalog ingest through the value-hash gate (r9
    verdict item 4): the synthetic corpus carries a resource type that is
    spine-only in the catalog (Basic since corpus v10 — its code/subject
    fields are NOT declared; NutritionOrder played this role until its
    round-12 promotion), and ``FhirSchemaModel(full=True)`` must retain
    its rows with the spine fields (id, language) extracted rather than
    silently dropping the type. One row per resource type: count, id
    range, and the distinct-language count that only the spine-extracted
    type populates (reference motivation: non-standard FHIR,
    `01_dbignite_sample.py:118`)."""
    from interop_spark.fhir.schema import FhirSchemaModel

    entry = _synthetic_entry(
        spark, sf_dir, schemas=FhirSchemaModel(full=True)
    )
    parts = []
    for rt in (
        "Patient",
        "DiagnosticReport",
        "QuestionnaireResponse",
        "Basic",
    ):
        lang = (
            col("r.language")
            if rt == "Basic"
            else F.lit(None).cast("string")
        )
        parts.append(
            entry.select(
                F.lit(rt).alias("resource_type"), F.explode(rt).alias("r")
            ).select("resource_type", col("r.id").alias("rid"), lang.alias("lang"))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    return u.groupBy("resource_type").agg(
        F.count(F.lit(1)).alias("n_resources"),
        F.min("rid").alias("min_id"),
        F.max("rid").alias("max_id"),
        F.count_distinct(col("lang")).alias("n_langs"),
    )


def q_fhir_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slot flattening through the round-10 SECOND promotion batch
    (Schedule/Slot/AppointmentResponse/Group/List): proves a batch-2
    promoted type carries its deep fields end-to-end from generated
    corpus JSON without a user override."""
    entry = _synthetic_entry(spark, sf_dir)
    s = entry.select(col("bundleUUID"), F.explode("Slot").alias("s"))
    return s.select(
        col("s.id").alias("slot_id"),
        col("s.status").alias("slot_status"),
        col("s.schedule.reference").alias("schedule_ref"),
        F.get(col("s.appointmentType.coding"), 0)["code"].alias("appt_type"),
        col("s.start").alias("slot_start"),
        col("s.end").alias("slot_end"),
    )


def q_fhir_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag flattening through the round-11 THIRD promotion batch
    (Flag/DetectedIssue/ClinicalImpression/DeviceRequest/
    CommunicationRequest): proves a batch-3 promoted type carries its
    deep fields — array-of-CodeableConcept category, Period, subject
    reference — end-to-end from generated corpus JSON without a user
    override (the ``fhir_slots`` pattern for the new batch)."""
    entry = _synthetic_entry(spark, sf_dir)
    f = entry.select(col("bundleUUID"), F.explode("Flag").alias("f"))
    return f.select(
        col("f.id").alias("flag_id"),
        col("f.status").alias("flag_status"),
        F.get(F.get(col("f.category"), 0)["coding"], 0)["code"].alias(
            "flag_category"
        ),
        F.get(col("f.code.coding"), 0)["code"].alias("flag_code"),
        col("f.subject.reference").alias("patient_ref"),
        col("f.period.start").alias("flag_start"),
    )


def q_fhir_omop_condition_occurrence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OMOP condition_occurrence over the synthetic corpus (round-10 CDM
    widening beyond the reference's person table)."""
    from interop_spark.fhir.analytics import omop_condition_occurrence

    return omop_condition_occurrence(_synthetic_entry(spark, sf_dir))


def q_fhir_omop_drug_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP drug_exposure over the synthetic corpus — runs through the
    medicationCodeableConcept schema override like
    ``fhir_medication_requests``."""
    from pyspark.sql.types import StructField, StructType

    from interop_spark.fhir.analytics import omop_drug_exposure
    from interop_spark.fhir.schema import (
        CODEABLE_CONCEPT,
        MEDICATION_REQUEST,
        FhirSchemaModel,
    )

    extended = StructType(
        MEDICATION_REQUEST.fields
        + [StructField("medicationCodeableConcept", CODEABLE_CONCEPT, True)]
    )
    schemas = FhirSchemaModel().with_overrides({"MedicationRequest": extended})
    return omop_drug_exposure(_synthetic_entry(spark, sf_dir, schemas=schemas))


def q_fhir_omop_drug_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP drug_era over the synthetic corpus (round-12): the
    gap-and-island merge of each patient's 3-exposure refill history
    (corpus v15 — follow-up gaps straddle the 30-day persistence window,
    so era merging is data-dependent: some patients' first two refills
    fuse into one era, others' split). The DERIVED-era aggregate shape —
    lag-window gap flag → running-sum era id → interval groupBy — under
    a single (person, concept)-keyed exchange."""
    from pyspark.sql.types import StructField, StructType

    from interop_spark.fhir.analytics import omop_drug_era
    from interop_spark.fhir.schema import (
        CODEABLE_CONCEPT,
        MEDICATION_REQUEST,
        FhirSchemaModel,
    )

    extended = StructType(
        MEDICATION_REQUEST.fields
        + [StructField("medicationCodeableConcept", CODEABLE_CONCEPT, True)]
    )
    schemas = FhirSchemaModel().with_overrides({"MedicationRequest": extended})
    return omop_drug_era(_synthetic_entry(spark, sf_dir, schemas=schemas))


def q_fhir_adverse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AdverseEvent flattening through the round-11 FOURTH promotion
    batch (AdverseEvent/AuditEvent/Person/Questionnaire/
    DeviceUseStatement — the safety-reporting / access-audit / MPI /
    form-definition frontier): proves a batch-4 promoted type carries
    its deep fields — actuality code, seriousness/severity
    CodeableConcepts, subject reference — end-to-end from generated
    corpus JSON without a user override (the ``fhir_flags`` pattern
    for the new batch)."""
    entry = _synthetic_entry(spark, sf_dir)
    a = entry.select(col("bundleUUID"), F.explode("AdverseEvent").alias("ae"))
    return a.select(
        col("ae.id").alias("event_id"),
        col("ae.actuality").alias("actuality"),
        F.get(col("ae.event.coding"), 0)["code"].alias("event_code"),
        F.get(col("ae.seriousness.coding"), 0)["code"].alias("seriousness"),
        F.get(col("ae.severity.coding"), 0)["code"].alias("severity"),
        col("ae.subject.reference").alias("patient_ref"),
        col("ae.date").alias("event_date"),
    )


def q_fhir_questionnaire_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-RESOURCE canonical-reference join — a join shape the
    within-bundle flattens don't cover: QuestionnaireResponse rows from
    EVERY bundle join the 3 distinct Questionnaire DEFINITIONS on the
    canonical url (real FHIR analytics: responses reference a form
    definition that lives in a definitions corpus, not in the same
    bundle). The definitions side dedups to its distinct rows (3) and
    broadcasts; the response side never shuffles before the per-form
    aggregate. Exercises the batch-4 promoted Questionnaire deep
    schema end-to-end."""
    entry = _synthetic_entry(spark, sf_dir)
    qr = entry.select(F.explode("QuestionnaireResponse").alias("qr")).select(
        col("qr.questionnaire").alias("questionnaire_url"),
        col("qr.authored").alias("authored"),
    )
    qdef = (
        entry.select(F.explode("Questionnaire").alias("q"))
        .select(
            col("q.url").alias("questionnaire_url"),
            col("q.title").alias("form_title"),
            col("q.status").alias("form_status"),
        )
        .distinct()
    )
    return (
        qr.join(F.broadcast(qdef), "questionnaire_url")
        .groupBy("questionnaire_url", "form_title", "form_status")
        .agg(
            F.count(F.lit(1)).alias("n_responses"),
            F.min("authored").alias("min_authored"),
            F.max("authored").alias("max_authored"),
        )
    )


def q_fhir_omop_visit_occurrence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OMOP visit_occurrence over the synthetic corpus (round-11 CDM
    widening: Encounter → visit, through corpus v7 — proves the deep
    Encounter schema's bare-Coding ``class`` and Period bounds flatten
    end-to-end)."""
    from interop_spark.fhir.analytics import omop_visit_occurrence

    return omop_visit_occurrence(_synthetic_entry(spark, sf_dir))


def q_fhir_omop_procedure_occurrence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OMOP procedure_occurrence over the synthetic corpus (round-11
    CDM widening: Procedure → procedure, corpus v7)."""
    from interop_spark.fhir.analytics import omop_procedure_occurrence

    return omop_procedure_occurrence(_synthetic_entry(spark, sf_dir))


def q_fhir_omop_measurement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP measurement over the synthetic corpus (Observation →
    measurement: LOINC concept + numeric value + unit), completing the
    CDM clinical core alongside person / condition_occurrence /
    drug_exposure / visit_occurrence / procedure_occurrence."""
    from interop_spark.fhir.analytics import omop_measurement

    return omop_measurement(_synthetic_entry(spark, sf_dir))


def q_fhir_omop_death(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP death over the synthetic corpus (round-12: Patient
    ``deceased[x]`` choice — every 7th patient carries a
    deceasedDateTime, every 7th+3 a bare deceasedBoolean that lands as
    a NULL-dated row; everyone else emits nothing)."""
    from interop_spark.fhir.analytics import omop_death

    return omop_death(_synthetic_entry(spark, sf_dir))


def q_fhir_omop_observation_period(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OMOP observation_period over the synthetic corpus (round-12):
    min/max clinical event date per person across six dated resource
    types — a new aggregate shape over entry() (explode → narrow
    union → person-keyed min/max), closing the OMOP clinical core
    alongside death."""
    from interop_spark.fhir.analytics import omop_observation_period

    return omop_observation_period(_synthetic_entry(spark, sf_dir))


def q_fhir_nutrition_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NutritionOrder flattening through the round-12 FIFTH promotion
    batch: proves the newly-deep schema (status/intent/patient/
    dateTime/oralDiet) carries end-to-end from generated corpus JSON
    without a user override — the per-batch proof-row pattern
    (fhir_flags batch 3, fhir_adverse_events batch 4)."""
    entry = _synthetic_entry(spark, sf_dir)
    n = entry.select(col("bundleUUID"), F.explode("NutritionOrder").alias("n"))
    return n.select(
        col("n.id").alias("order_id"),
        col("n.status").alias("order_status"),
        col("n.intent").alias("order_intent"),
        col("n.patient.reference").alias("patient_ref"),
        col("n.dateTime").alias("order_date"),
        F.get(F.get(col("n.oralDiet.type"), 0)["coding"], 0)["code"].alias(
            "diet_code"
        ),
        col("n.oralDiet.instruction").alias("diet_instruction"),
    )


def q_fhir_ndjson_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FHIR Bulk Data NDJSON ingest (round-10 source widening): a
    generated ``$export``-layout directory (Patient.ndjson +
    Observation.ndjson, one resource per line) read through
    ``FhirNdjson.resource("Observation")`` — line-splittable scan, one
    variant parse per line, typed extraction against the declared
    catalog schema. The Patient file sharing the directory proves the
    resourceType tag filter (a Patient line must never surface here)."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    obs = read_from_ndjson(
        "file://" + d, spark=spark, glob_filter="*.ndjson"
    ).resource("Observation")
    return obs.select(
        col("id").alias("obs_id"),
        col("status").alias("obs_status"),
        F.get(col("code.coding"), 0)["code"].alias("obs_code"),
        col("subject.reference").alias("patient_ref"),
        col("valueQuantity.value").alias("obs_value"),
        col("valueQuantity.unit").alias("obs_unit"),
    )


def q_fhir_ndjson_export_errors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bulk-export ERROR-file triage (round-12 sixth promotion batch
    proof): a ``$export`` manifest lists OperationOutcome NDJSON files
    under ``error`` — the first thing an ingest job does with them is
    tally issues by severity/code to decide retry vs quarantine. Reads
    the corpus's OperationOutcome.ndjson through the newly-deep schema
    (issue array explode), so it proves the batch end-to-end."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    oo = read_from_ndjson(
        "file://" + d, spark=spark, glob_filter="*.ndjson"
    ).resource("OperationOutcome")
    iss = oo.select(F.explode("issue").alias("i"))
    return iss.groupBy(
        col("i.severity").alias("severity"),
        col("i.code").alias("issue_code"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_issues"))


def q_fhir_ndjson_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bulk-export audit scan: per-resourceType line counts over the
    NDJSON directory (``FhirNdjson.resource_types()``) — the pass a real
    job runs before deciding which catalog schemas to materialize."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    return read_from_ndjson(
        "file://" + d, spark=spark, glob_filter="*.ndjson"
    ).resource_types()


def q_fhir_ndjson_patient_conditions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NDJSON→bundle-row BRIDGE through the value-hash gate (r10
    verdict item 6): ``bundles_from_ndjson`` groups the per-type
    ``$export`` files (Patient.ndjson + Condition.ndjson) into one row
    per patient with ``entry()``-shaped ``array<struct>`` columns, and
    the UNCHANGED ``patient_conditions`` flatten runs on it — the same
    analytic the bundle corpus feeds (``fhir_patient_conditions``),
    proving export-layout data and transaction-bundle data converge on
    one analytics surface. The oracle recomputes the flatten
    relationally with the bridge's ``ndjson://<patient_ref>`` UUID
    derivation."""
    from interop_spark.fhir import bundles_from_ndjson, read_from_ndjson
    from interop_spark.fhir.analytics import patient_conditions
    from interop_spark.fhir.gen import write_ndjson_corpus
    from interop_spark.fhir.schema import (
        CONDITION,
        PATIENT,
        FhirSchemaModel,
    )

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    entry = bundles_from_ndjson(
        nd,
        ["Patient", "Condition"],
        schemas=FhirSchemaModel(
            fhir_resource_map={"Patient": PATIENT, "Condition": CONDITION}
        ),
    )
    return patient_conditions(entry)


def q_fhir_ndjson_coverage_bundles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bridge attribution beyond subject/patient structs (r11 verdict
    item 2): a three-type ``bundles_from_ndjson`` where EVERY type keys
    differently — Coverage through ``beneficiary.reference`` (the R4
    patient-compartment path for the type), Account through its 0..*
    ``subject`` Reference ARRAY (every 10th account names two patients,
    so one resource row must land in BOTH patients' bundle rows — the
    compartment fan-out, not a coalesce), AllergyIntolerance through
    the ``patient`` struct. The flatten aggregates per bundle so the
    multi-patient accounts surface as n_accounts=2 with deterministic
    min/max ids (collect_list order never reaches the output)."""
    from interop_spark.fhir import bundles_from_ndjson, read_from_ndjson
    from interop_spark.fhir.gen import write_ndjson_corpus
    from interop_spark.fhir.schema import (
        ACCOUNT,
        ALLERGY_INTOLERANCE,
        COVERAGE,
        FhirSchemaModel,
    )

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    entry = bundles_from_ndjson(
        nd,
        ["Coverage", "Account", "AllergyIntolerance"],
        schemas=FhirSchemaModel(
            fhir_resource_map={
                "Coverage": COVERAGE,
                "Account": ACCOUNT,
                "AllergyIntolerance": ALLERGY_INTOLERANCE,
            }
        ),
    )
    cov = F.get(col("Coverage"), 0)
    alg = F.get(col("AllergyIntolerance"), 0)
    acct_ids = F.transform(col("Account"), lambda x: x["id"])
    return entry.select(
        col("bundleUUID").alias("UNIQUE_FHIR_ID"),
        col("bundleId").alias("patient_ref"),
        F.size("Coverage").alias("n_coverage"),
        cov["status"].alias("coverage_status"),
        F.get(cov["type"]["coding"], 0)["code"].alias("coverage_type"),
        F.get(cov["payor"], 0)["reference"].alias("payor_ref"),
        F.size("Account").alias("n_accounts"),
        F.array_min(acct_ids).alias("min_account_id"),
        F.array_max(acct_ids).alias("max_account_id"),
        F.size("AllergyIntolerance").alias("n_allergies"),
        F.get(alg["code"]["coding"], 0)["code"].alias("allergy_code"),
        alg["criticality"].alias("criticality"),
    )


def q_fhir_reference_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-resource reference-integrity audit over the synthetic
    corpus (round-12): four checks with known ground truth — Condition/
    Claim/NutritionOrder patient references all resolve (the
    NutritionOrder row also re-proves the batch-5 deep schema), while
    every Slot.schedule reference DANGLES because the corpus carries no
    Schedule resources — the dangling-reference shape a real ETL must
    surface, not silently join away."""
    from interop_spark.fhir.analytics import reference_integrity

    return reference_integrity(
        _synthetic_entry(spark, sf_dir),
        [
            ("Condition", "subject.reference", "Patient"),
            ("Claim", "patient.reference", "Patient"),
            ("NutritionOrder", "patient.reference", "Patient"),
            ("Slot", "schedule.reference", "Schedule"),
        ],
    )


def q_fhir_omop_provider(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP CDM provider table from Practitioner (corpus v12 adds the
    source fields: NPI identifier, name, qualification) — the
    health-system-domain companion of the clinical core, mapped the way
    a real FHIR→OMOP ETL lands it (NPI via identifier-system filter,
    specialty from the first qualification code)."""
    from interop_spark.fhir.analytics import omop_provider

    return omop_provider(_synthetic_entry(spark, sf_dir))


def q_fhir_omop_device_exposure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OMOP device_exposure over the synthetic corpus (round-12, corpus
    v16): DeviceUseStatement resolves its within-bundle Device
    reference for the concept/UDI — the CDM's device domain, landed
    from the promoted Device/DeviceUseStatement pair."""
    from interop_spark.fhir.analytics import omop_device_exposure

    return omop_device_exposure(_synthetic_entry(spark, sf_dir))


def q_fhir_device_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeviceMetric flattening through the round-12 EIGHTH promotion
    batch (DeviceDefinition/DeviceMetric/Substance — the device-domain
    chain): proves the newly-deep schema (ISO 11073 type, UCUM unit,
    category/operationalStatus codes, parent device reference) carries
    end-to-end from generated corpus JSON without a user override —
    the per-batch proof-row pattern."""
    entry = _synthetic_entry(spark, sf_dir)
    m = entry.select(col("bundleUUID"), F.explode("DeviceMetric").alias("m"))
    return m.select(
        col("m.id").alias("metric_id"),
        F.get(col("m.type.coding"), 0)["code"].alias("metric_code"),
        F.get(col("m.unit.coding"), 0)["code"].alias("metric_unit"),
        col("m.category").alias("metric_category"),
        col("m.operationalStatus").alias("operational_status"),
        col("m.parent.reference").alias("parent_device_ref"),
    )


def q_fhir_omop_payer_plan_period(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OMOP CDM payer_plan_period from the NDJSON bulk-export path
    (corpus v5 gives Coverage its ``period``): $export Coverage lines →
    typed resource frame → payer-domain interval table. Composes the
    line-splittable S6 scan with the OMOP family — at 100 TB the payer
    feed IS a bulk export, not bundles — and pins the open-end censor
    (active coverages carry no ``period.end``; cancelled ones do)."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.analytics import omop_payer_plan_period
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    cov = read_from_ndjson(
        "file://" + d, spark=spark, glob_filter="*.ndjson"
    ).resource("Coverage")
    return omop_payer_plan_period(cov)


def q_fhir_omop_care_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP CDM care_site with inline location columns (corpus v13 adds
    the modular Organization/Location facility dimension): Location →
    site id/name/type/address/coordinates, managingOrganization →
    owning Organization's name. Completes the health-system domain
    beside provider; the cross-bundle facility copies collapse through
    the exploded-distinct before a broadcast join."""
    from interop_spark.fhir.analytics import omop_care_site

    return omop_care_site(_synthetic_entry(spark, sf_dir))


def q_fhir_insurance_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InsurancePlan flattening through the round-12 SEVENTH promotion
    batch (payer/provider directory: InsurancePlan,
    OrganizationAffiliation, PaymentReconciliation): the proof row
    walks the promoted schema three nested-array levels deep —
    coverage→benefit→limit and plan→generalCost — from generated
    corpus JSON without a user override. The plan catalog is a modular
    dimension, so the cross-bundle copies collapse through distinct."""
    entry = _synthetic_entry(spark, sf_dir)
    ip = entry.select(F.explode("InsurancePlan").alias("p"))
    cov = F.get(col("p.coverage"), 0)
    ben = F.get(cov["benefit"], 0)
    lim = F.get(ben["limit"], 0)
    pl = F.get(col("p.plan"), 0)
    gc = F.get(pl["generalCost"], 0)
    return ip.select(
        col("p.id").alias("plan_id"),
        col("p.status").alias("plan_status"),
        col("p.name").alias("plan_name"),
        col("p.ownedBy.reference").alias("owned_by"),
        F.get(ben["type"]["coding"], 0)["code"].alias("benefit_type"),
        lim["value"]["value"].alias("visit_limit"),
        F.get(pl["type"]["coding"], 0)["code"].alias("tier"),
        gc["groupSize"].alias("group_size"),
        gc["cost"]["value"].alias("premium"),
    ).distinct()


def q_fhir_omop_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP CDM cost from Invoice — the economics table beside the
    payer domain's payer_plan_period: per-invoice charge/cost Money
    totals, CPT charge code, incurred date. Completes the CDM tables a
    FHIR billing feed can populate from this corpus."""
    from interop_spark.fhir.analytics import omop_cost

    return omop_cost(_synthetic_entry(spark, sf_dir))


def q_fhir_invoice_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invoice flattening through the round-12 SIXTH promotion batch
    (payer/financial cycle): Money totals and the lineItem
    priceComponent carry end-to-end from generated corpus JSON without
    a user override — the per-batch proof-row pattern (fhir_flags
    batch 3, fhir_adverse_events batch 4, fhir_nutrition_orders
    batch 5)."""
    entry = _synthetic_entry(spark, sf_dir)
    inv = entry.select(F.explode("Invoice").alias("i"))
    li = F.get(col("i.lineItem"), 0)
    pc = F.get(li["priceComponent"], 0)
    return inv.select(
        col("i.id").alias("invoice_id"),
        col("i.status").alias("invoice_status"),
        F.get(col("i.type.coding"), 0)["code"].alias("invoice_type"),
        col("i.subject.reference").alias("patient_ref"),
        col("i.date").alias("invoice_date"),
        col("i.totalGross.value").alias("total_gross"),
        col("i.totalGross.currency").alias("currency"),
        F.get(li["chargeItemCodeableConcept"]["coding"], 0)["code"].alias(
            "charge_code"
        ),
        pc["amount"]["value"].alias("line_base_amount"),
    )


def q_fhir_omop_condition_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP condition_era from the NDJSON bulk-export path (round-13;
    NDJSON corpus v6 turns Condition into a 3-recording follow-up
    history per patient whose gaps straddle the 30-day persistence
    window): $export Patient/Condition lines → bundle-row bridge → the
    SHARED gap-and-island era core (``_era_merge``, the same helper
    drug_era runs). Era merging is data-dependent — k%40+10 ≤ 30 fuses
    the first follow-up, k%20+25 ≤ 30 the second — so the oracle
    recomputes the full lag/running-sum/groupBy chain, not a count."""
    from interop_spark.fhir import bundles_from_ndjson, read_from_ndjson
    from interop_spark.fhir.analytics import omop_condition_era
    from interop_spark.fhir.gen import write_ndjson_corpus
    from interop_spark.fhir.schema import CONDITION, PATIENT, FhirSchemaModel

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    entry = bundles_from_ndjson(
        nd,
        ["Patient", "Condition"],
        schemas=FhirSchemaModel(
            fhir_resource_map={"Patient": PATIENT, "Condition": CONDITION}
        ),
    )
    return omop_condition_era(entry)


def q_fhir_omop_dose_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP dose_era from the NDJSON bulk-export path (round-13; NDJSON
    corpus v7 adds the MedicationRequest export file with the SAME
    refill-date closed forms as the bundle corpus): the S4 schema
    override composed with the S6 line-splittable scan — the catalog
    MedicationRequest carries neither medicationCodeableConcept nor
    doseAndRate, so the query extends it ``with_overrides`` exactly the
    way ``fhir_omop_drug_era`` does on the bundle side — then the
    COMPOSITE-KEY ``_era_merge``: eras per (person, drug, dose value,
    dose unit), so every third patient's doubled final refill SPLITS
    its era on the dose dimension even though the gap is inside the
    30-day window. Completes the CDM era family."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.analytics import omop_dose_era
    from interop_spark.fhir.gen import write_ndjson_corpus
    from interop_spark.fhir.schema import (
        CODEABLE_CONCEPT,
        MEDICATION_REQUEST,
        FhirSchemaModel,
    )

    dose_qty = StructType(
        [
            StructField("value", DoubleType(), True),
            StructField("unit", StringType(), True),
        ]
    )
    dosage = ArrayType(
        StructType(
            [
                StructField(
                    "doseAndRate",
                    ArrayType(
                        StructType(
                            [StructField("doseQuantity", dose_qty, True)]
                        )
                    ),
                    True,
                )
            ]
        )
    )
    extended = StructType(
        [
            f
            for f in MEDICATION_REQUEST.fields
            if f.name != "dosageInstruction"
        ]
        + [
            StructField("medicationCodeableConcept", CODEABLE_CONCEPT, True),
            StructField("dosageInstruction", dosage, True),
        ]
    )
    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    mr = read_from_ndjson(
        "file://" + d, spark=spark, glob_filter="*.ndjson"
    ).resource(
        "MedicationRequest",
        schemas=FhirSchemaModel().with_overrides(
            {"MedicationRequest": extended}
        ),
    )
    return omop_dose_era(mr)


COHORT_WINDOW_DAYS = 1500


def q_fhir_omop_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT SELECTION over the CDM tables this engine lands — the
    analytic OMOP exists for (round-13): persons whose condition code is
    in the reportable-conditions ValueSet (the NDJSON terminology feed)
    AND who received a drug exposure within ``COHORT_WINDOW_DAYS`` days
    AFTER the condition was recorded; one row per qualifying (person,
    condition) with the FIRST qualifying exposure and days-to-treatment.
    Composes three surfaces built this round and before: bundle-corpus
    occurrence tables, the definitional ValueSet (broadcast membership
    filter — no corpus shuffle on a terminology key), and the temporal
    join + argmin-by-date the era family also uses.

    Scale shape: ValueSet codes broadcast onto the condition scan; the
    condition↔exposure join is person-keyed (the one corpus shuffle);
    the first-exposure argmin is a partial-aggregated min(struct) on
    the same key, so it reuses the join's partitioning."""
    from pyspark.sql.types import StructField, StructType

    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.analytics import (
        omop_cohort,
        omop_condition_occurrence,
        omop_drug_exposure,
    )
    from interop_spark.fhir.gen import write_ndjson_corpus
    from interop_spark.fhir.schema import (
        CODEABLE_CONCEPT,
        MEDICATION_REQUEST,
        FhirSchemaModel,
    )

    entry = _synthetic_entry(
        spark,
        sf_dir,
        schemas=FhirSchemaModel().with_overrides(
            {
                "MedicationRequest": StructType(
                    MEDICATION_REQUEST.fields
                    + [
                        StructField(
                            "medicationCodeableConcept",
                            CODEABLE_CONCEPT,
                            True,
                        )
                    ]
                )
            }
        ),
    )
    nd_dir = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    vs_codes = (
        read_from_ndjson(
            "file://" + nd_dir, spark=spark, glob_filter="*.ndjson"
        )
        .resource("ValueSet")
        .select(F.explode("compose.include").alias("inc"))
        .select(F.explode("inc.concept").alias("vc"))
        .select(col("vc.code").alias("condition_concept_code"))
        .distinct()
    )
    return omop_cohort(
        omop_condition_occurrence(entry),
        omop_drug_exposure(entry),
        vs_codes,
        window_days=COHORT_WINDOW_DAYS,
    )


def q_fhir_omop_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP location over the synthetic corpus (round-13): the address
    dimension with HIPAA Safe Harbor zip3 generalization — distinct
    (city, state, zip3, country) tuples with a content-hash surrogate
    key and the per-address person count. Completes the CDM
    health-system domain (person/provider/care_site/location)."""
    from interop_spark.fhir.analytics import omop_location

    return omop_location(_synthetic_entry(spark, sf_dir))


def q_fhir_omop_observation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP observation from the NDJSON bulk-export path (round-14;
    corpus v8 adds the R4 ``category`` to the lab Observations and a
    social-history smoking-status twin with valueCodeableConcept): the
    $export Observation scan feeds ``omop_observation``, which applies
    the OMOP DOMAIN SPLIT — categories outside laboratory/vital-signs
    land in the observation table with a CODED value, the complement of
    ``omop_measurement``. Completes the CDM clinical tables together
    with specimen/device_era this round."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.analytics import omop_observation
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    obs = read_from_ndjson(
        "file://" + d, spark=spark, glob_filter="*.ndjson"
    ).resource("Observation")
    return omop_observation(obs)


def q_fhir_omop_specimen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP specimen from the NDJSON bulk-export path (round-14; corpus
    v8 adds the Specimen export file): typed Specimen scan →
    ``omop_specimen`` — concept from type, date from
    collection.collectedDateTime, quarter-exact quantity. One
    line-splittable scan, zero shuffles."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.analytics import omop_specimen
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    spec = read_from_ndjson(
        "file://" + d, spark=spark, glob_filter="*.ndjson"
    ).resource("Specimen")
    return omop_specimen(spec)


def q_fhir_omop_device_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Device eras from the NDJSON bulk-export path (round-14; corpus v8
    adds Device + a 3-wear DeviceUseStatement history whose gaps reuse
    the condition follow-up closed forms, straddling the 30-day
    window): $export Device/DeviceUseStatement lines → bundle-row
    bridge → the UNCHANGED ``omop_device_exposure`` within-bundle
    reference resolution → the SHARED ``_era_merge`` core. Fourth
    consumer of the era helper (drug/condition/dose/device) — the CDM
    derived-table family is one algorithm, written once."""
    from interop_spark.fhir import bundles_from_ndjson, read_from_ndjson
    from interop_spark.fhir.analytics import omop_device_era
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    entry = bundles_from_ndjson(nd, ["Device", "DeviceUseStatement"])
    return omop_device_era(entry)


def q_fhir_quality_measure_catalog(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-measure catalog resolution — the round-14 TENTH promotion
    batch's proof row (eCQM trio: Measure/Library/PlanDefinition, the
    definitional resources a quality-reporting shop loads after
    terminology): each Measure resolves its logic Library by canonical
    url (the CMS eCQM packaging shape — scoring coding, group
    population count, the Library's CQL attachment title) and the
    PlanDefinition that operationalizes the same library joins on
    alongside with its action count. All three frames are definitional
    handfuls, so every join BROADCASTS — the terminology-row scale
    posture."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    measures = nd.resource("Measure").select(
        col("id").alias("measure_id"),
        col("name").alias("measure_name"),
        F.get(col("scoring.coding"), 0)["code"].alias("scoring_code"),
        F.size(F.get(col("group"), 0)["population"]).alias("n_populations"),
        F.get(col("library"), 0).alias("library_url"),
    )
    libs = nd.resource("Library").select(
        col("url").alias("library_url"),
        col("title").alias("library_title"),
        col("version").alias("library_version"),
        F.get(col("content"), 0)["title"].alias("cql_title"),
    )
    plans = nd.resource("PlanDefinition").select(
        F.get(col("library"), 0).alias("library_url"),
        col("id").alias("plan_id"),
        F.size("action").alias("n_actions"),
    )
    return measures.join(F.broadcast(libs), "library_url").join(
        F.broadcast(plans), "library_url"
    )


def q_fhir_omop_note(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP note from the NDJSON bulk-export path (round-14; corpus v10
    adds a DocumentReference progress note per patient whose attachment
    payload is BASE64): typed scan → ``omop_note`` — the mapping must
    actually DECODE the payload (the oracle recomputes the plaintext
    from the closed form), landing the clinical-text column every
    text-pipeline operator in this engine consumes. Zero shuffles."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.analytics import omop_note
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    dr = read_from_ndjson(
        "file://" + d, spark=spark, glob_filter="*.ndjson"
    ).resource("DocumentReference")
    return omop_note(dr)


def q_fhir_research_enrollment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Clinical-trial enrollment rollup — the round-14 ELEVENTH
    promotion batch's proof row (research pair ResearchStudy /
    ResearchSubject): per-patient enrollments resolve their study
    reference onto the 5 trial definitions (definitional → BROADCAST,
    the terminology posture) and roll up per (study, subject status)
    with the study's title and phase coding riding along — the
    accrual report every trial data warehouse runs."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    subj = nd.resource("ResearchSubject").select(
        F.regexp_replace(
            col("study.reference"), "^ResearchStudy/", ""
        ).alias("study_id"),
        col("status").alias("subject_status"),
        col("assignedArm").alias("assigned_arm"),
    )
    studies = nd.resource("ResearchStudy").select(
        col("id").alias("study_id"),
        col("title").alias("study_title"),
        F.get(col("phase.coding"), 0)["code"].alias("phase_code"),
    )
    return (
        subj.join(F.broadcast(studies), "study_id")
        .groupBy(
            "study_id", "study_title", "phase_code", "subject_status",
            "assigned_arm",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_subjects"))
    )


def q_fhir_concept_map_translate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ConceptMap-driven code TRANSLATION — the round-13 NINTH promotion
    batch's proof row (terminology trio: CodeSystem/ValueSet/
    ConceptMap), and the first step of every real FHIR→OMOP ETL: source
    SNOMED-coded conditions translate to standard concepts through the
    map's group→element→target walk (three nested-array levels of the
    newly-deep schema, no user override). The map is definitional (one
    resource, 50 elements) so it BROADCASTS; the condition side
    aggregates per standard concept after the map join — corpus-sized
    data never shuffles on a terminology key."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    mapping = (
        nd.resource("ConceptMap")
        .select(F.explode("group").alias("g"))
        .select(
            col("g.target").alias("target_system"),
            F.explode("g.element").alias("e"),
        )
        .select(
            "target_system",
            col("e.code").alias("source_code"),
            F.explode("e.target").alias("t"),
        )
        .select(
            "target_system",
            "source_code",
            col("t.code").alias("std_code"),
            col("t.display").alias("std_display"),
            col("t.equivalence").alias("equivalence"),
        )
    )
    cond = nd.resource("Condition").select(
        F.get(col("code.coding"), 0)["code"].alias("source_code")
    )
    return (
        cond.join(F.broadcast(mapping), "source_code")
        .groupBy("target_system", "std_code", "std_display")
        .agg(
            F.count(F.lit(1)).alias("n_conditions"),
            F.countDistinct("source_code").alias("n_source_codes"),
            F.sum(
                F.when(col("equivalence") == "equivalent", 1).otherwise(0)
            ).cast("long").alias("n_equivalent"),
        )
    )


def q_fhir_terminology_catalog(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ValueSet membership resolved against its CodeSystem (batch-9
    companion row): each compose.include concept of the reportable-
    conditions ValueSet joins the CodeSystem's concept list for its
    formal definition — the expansion-with-designations lookup a
    terminology service answers. Both sides are definitional handfuls;
    the join broadcasts and nothing corpus-sized participates."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ndjson_corpus

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    vs = (
        nd.resource("ValueSet")
        .select(
            col("url").alias("valueset_url"),
            col("status").alias("valueset_status"),
            F.explode("compose.include").alias("inc"),
        )
        .select(
            "valueset_url",
            "valueset_status",
            col("inc.system").alias("include_system"),
            F.explode("inc.concept").alias("vc"),
        )
        .select(
            "valueset_url",
            "valueset_status",
            "include_system",
            col("vc.code").alias("code"),
            col("vc.display").alias("display"),
        )
    )
    cs = (
        nd.resource("CodeSystem")
        .select(col("content").alias("cs_content"), F.explode("concept").alias("c"))
        .select(
            "cs_content",
            col("c.code").alias("code"),
            col("c.definition").alias("definition"),
        )
    )
    return vs.join(F.broadcast(cs), "code", "left").select(
        "valueset_url",
        "valueset_status",
        "include_system",
        "code",
        "display",
        "definition",
        "cs_content",
    )


def q_fhir_ingest_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reader THROUGHPUT path over a real file corpus: ~1200 generated
    bundle files (one .json per bundle, deterministic content) →
    ``read_from_directory`` → typed extraction → Patient×Condition
    flatten → cohort aggregate. This is the evidence that the
    single-parse VARIANT design holds beyond the reference's 4 sample
    files; the oracle recomputes the cohorts relationally."""
    from interop_spark.fhir import read_from_directory
    from interop_spark.fhir.analytics import patient_conditions
    from interop_spark.fhir.gen import write_corpus
    from interop_spark.fhir.schema import (
        CONDITION,
        PATIENT,
        FhirSchemaModel,
    )

    corpus = write_corpus(spark, sf_dir, max_custkey=_CORPUS_LIMIT)
    # declared-schema pruning at its strongest: the cohort query touches
    # Patient and Condition only, so the entry frame declares exactly
    # those two — the other 11 resource extractions are never built
    # (13-type entry() costs ~4x the plan construction and the full
    # variant traversal per bundle). glob_filter (NOT a path glob, which
    # stats every file on the driver) keeps the listing a prefix scan.
    entry = read_from_directory(
        "file://" + corpus, spark=spark, glob_filter="*.json"
    ).entry(
        schemas=FhirSchemaModel(
            fhir_resource_map={"Patient": PATIENT, "Condition": CONDITION}
        )
    )
    pc = patient_conditions(entry)
    return pc.groupBy("condition_code", "clinical_status").agg(
        F.count(F.lit(1)).alias("n_patients"),
        F.min("Patient").alias("min_patient"),
        F.max("condition_date").alias("max_condition_date"),
    )


def q_fhir_omop_visit_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP visit_detail over the r15 EXTENSION corpus (verdict r14 item
    7): Encounter.location ward-transfer segments → one visit_detail row
    each, FK'd to the parent visit. The ext corpus's Encounters carry
    1-3 location segments with per-segment Periods; the catalog's
    curated Encounter keeps the location struct minimal, so this read
    exercises the SCHEMA-OVERRIDE path (§2.1 S4) for real — the
    `location.period` field arrives only because the override declares
    it. Scale shape: one scan, posexplode projection, zero Exchanges."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.analytics import omop_visit_detail
    from interop_spark.fhir.gen import write_ext_corpus
    from interop_spark.fhir.schema import PERIOD, FhirSchemaModel

    base = FhirSchemaModel()
    enc = base.schema("Encounter")
    loc_elem = enc["location"].dataType.elementType
    loc_ext = StructType(
        loc_elem.fields + [StructField("period", PERIOD, True)]
    )
    enc_ext = StructType(
        [
            f if f.name != "location"
            else StructField("location", ArrayType(loc_ext), True)
            for f in enc.fields
        ]
    )
    schemas = base.with_overrides({"Encounter": enc_ext})

    d = write_ext_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    return omop_visit_detail(nd.resource("Encounter", schemas=schemas))


def q_fhir_request_group_actions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-execution rollup — the round-15 TWELFTH promotion batch's
    proof row (execution pair ActivityDefinition / RequestGroup): each
    patient RequestGroup's ``instantiatesCanonical`` entries carry the
    canonical-with-version form ``<url>|<version>``; the query splits
    off the version suffix (the canonical value-space walk,
    hl7.org/fhir/R4/references.html#canonical), resolves the base URL
    onto the 6 ActivityDefinition order templates (definitional →
    BROADCAST, the terminology posture), and rolls up executed orders
    per (template, group status) — verifying the pinned version matches
    the definition's along the way."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ext_corpus

    d = write_ext_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    rg = (
        nd.resource("RequestGroup")
        .select(
            col("status").alias("rg_status"),
            F.explode("instantiatesCanonical").alias("canon"),
        )
        .select(
            "rg_status",
            F.split_part(col("canon"), F.lit("|"), F.lit(1)).alias("url"),
            F.split_part(col("canon"), F.lit("|"), F.lit(2)).alias(
                "pinned_version"
            ),
        )
    )
    ad = nd.resource("ActivityDefinition").select(
        "url",
        col("version").alias("def_version"),
        col("title").alias("def_title"),
        col("kind").alias("def_kind"),
    )
    return (
        rg.join(F.broadcast(ad), "url")
        .groupBy("url", "def_title", "def_kind", "rg_status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(
                F.when(col("pinned_version") == col("def_version"), 1)
                .otherwise(0)
            ).cast("long").alias("n_version_matched"),
        )
    )


def q_fhir_writer_canonical_leaves(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Writer typed-leaf residue (verdict r14 item 6): the `canonical` /
    `uri` value-space contract, which is a PASSTHROUGH contract — and
    only provable in contrast with the urn-normalized leaves. One
    bundle per customer row carrying an ActivityDefinition whose
    ``url`` (plain canonical base), ``transform`` (canonical REFERENCE
    with the ``|version`` suffix — the pipe must survive verbatim) and
    ``profile`` (a bare-OID-SHAPED value) all pass through unchanged,
    next to a Patient whose ``identifier.system`` receives the SAME
    bare OID and must come back ``urn:oid:``-prefixed — the leaf-typed
    dispatch (writer.py `_URN_VALUE_LEAVES` keys system/fullUrl only,
    `canonical` stays the plain cast by design) pinned in one row.
    Round-trips through the newly-CURATED ActivityDefinition schema's
    variant path, tying the twelfth promotion batch to the writer."""
    from interop_spark.fhir import Bundle, Mapping, MappingManager

    src = (
        load(spark, sf_dir, "customer")
        .where(col("c_custkey") < 50)
        .select(
            (col("c_custkey") + 500000).cast("string").alias("AD_ID"),
            F.concat(
                F.lit("http://example.org/fhir/ActivityDefinition/tpl-"),
                col("c_custkey").cast("string"),
            ).alias("AD_URL"),
            F.concat(
                F.lit("2."), (col("c_custkey") % 4).cast("string")
            ).alias("AD_VERSION"),
            F.concat(
                F.lit("http://example.org/fhir/StructureMap/map-"),
                (col("c_custkey") % 3).cast("string"),
                F.lit("|0."),
                (col("c_custkey") % 3).cast("string"),
            ).alias("AD_TRANSFORM"),
            # bare OID: canonical `profile` must pass it through
            # verbatim; Identifier.system must urn:oid: it
            F.concat(
                F.lit("2.16.840.1."), col("c_custkey").cast("string")
            ).alias("BARE_OID"),
            col("c_custkey").cast("string").alias("PAT_ID"),
            F.concat(F.lit("mrn-"), col("c_custkey").cast("string")).alias(
                "PAT_MRN"
            ),
        )
    )
    maps = [
        Mapping("AD_ID", "ActivityDefinition.id"),
        Mapping("AD_URL", "ActivityDefinition.url"),
        Mapping("AD_VERSION", "ActivityDefinition.version"),
        Mapping("AD_TRANSFORM", "ActivityDefinition.transform"),
        Mapping("BARE_OID", "ActivityDefinition.profile"),
        Mapping("PAT_ID", "Patient.id"),
        Mapping("BARE_OID", "Patient.identifier.system"),
        Mapping("PAT_MRN", "Patient.identifier.value"),
    ]
    emitted = Bundle(MappingManager(maps, src.schema)).df_to_fhir_df(src)
    v = emitted.select(F.try_parse_json(col("value")).alias("v"))
    return v.select(
        F.variant_get("v", "$.entry[0].resource.id", "string").alias(
            "ad_id"
        ),
        F.variant_get("v", "$.entry[0].resource.url", "string").alias(
            "ad_url"
        ),
        F.variant_get("v", "$.entry[0].resource.version", "string").alias(
            "ad_version"
        ),
        F.variant_get(
            "v", "$.entry[0].resource.transform", "string"
        ).alias("ad_transform"),
        F.variant_get("v", "$.entry[0].resource.profile", "string").alias(
            "ad_profile"
        ),
        F.variant_get("v", "$.entry[1].resource.id", "string").alias(
            "patient_id"
        ),
        F.variant_get(
            "v", "$.entry[1].resource.identifier[0].system", "string"
        ).alias("pat_id_system"),
        F.variant_get(
            "v", "$.entry[1].resource.identifier[0].value", "string"
        ).alias("pat_mrn"),
    )


def q_fhir_omop_episode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP EPISODE from the NDJSON bulk-export path (round-15b): the
    TWO-LEVEL gap-and-island — the v6 Condition follow-up history
    merges into eras at the 30-day persistence window (level 1, the
    shared ``_era_merge``), eras into disease EPISODES at a 40-day
    inter-era gap (level 2). Both fixture gaps straddle both windows
    (k%40+10 vs 30/40, k%20+25 vs 30/40), so era AND episode splits are
    data-dependent; the oracle replays the full two-level
    lag/cumsum/groupBy chain."""
    from interop_spark.fhir import bundles_from_ndjson, read_from_ndjson
    from interop_spark.fhir.analytics import omop_episode
    from interop_spark.fhir.gen import write_ndjson_corpus
    from interop_spark.fhir.schema import CONDITION, PATIENT, FhirSchemaModel

    d = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    entry = bundles_from_ndjson(
        nd,
        ["Patient", "Condition"],
        schemas=FhirSchemaModel(
            fhir_resource_map={"Patient": PATIENT, "Condition": CONDITION}
        ),
    )
    return omop_episode(entry)


def q_fhir_omop_fact_relationship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OMOP FACT_RELATIONSHIP over the r15b EXTENSION corpus's Specimen
    parent/aliquot chain: every child specimen's ``parent`` reference
    (read through the r15b-promoted curated ``Specimen.parent`` field)
    lands BIDIRECTIONALLY — child-of and parent-of are separate CDM
    rows, the ETL quirk this row pins. Zero-shuffle plan: scan +
    explode + union of two projections."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.analytics import omop_fact_relationship
    from interop_spark.fhir.gen import write_ext_corpus

    d = write_ext_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    return omop_fact_relationship(nd.resource("Specimen"))


def q_fhir_medication_knowledge_costs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Formulary cost rollup — the round-15b THIRTEENTH promotion
    batch's MedicationKnowledge proof row: the 30-entry ext-corpus
    formulary (one record per RxNorm code, quarter-exact list costs)
    resolves the MAIN NDJSON corpus's MedicationRequests by code —
    definitional side BROADCAST, the terminology posture — and rolls up
    per-drug request counts against integer cents arithmetic. The
    MedicationRequest read reuses dose_era's S4 override (the catalog
    type carries no medicationCodeableConcept)."""
    from pyspark.sql.types import StructField, StructType

    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ext_corpus, write_ndjson_corpus
    from interop_spark.fhir.schema import (
        CODEABLE_CONCEPT,
        MEDICATION_REQUEST,
        FhirSchemaModel,
    )

    dext = write_ext_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    mk = read_from_ndjson(
        "file://" + dext, spark=spark, glob_filter="*.ndjson"
    ).resource("MedicationKnowledge")
    mk_flat = mk.select(
        F.get(col("code.coding"), 0)["code"].alias("rx_code"),
        col("status").alias("mk_status"),
        F.get(col("doseForm.coding"), 0)["display"].alias("dose_form"),
        (F.get(col("cost"), 0)["cost"]["value"] * 100)
        .cast("long")
        .alias("unit_cost_cents"),
    )

    extended = StructType(
        list(MEDICATION_REQUEST.fields)
        + [StructField("medicationCodeableConcept", CODEABLE_CONCEPT, True)]
    )
    dmain = write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    mr = read_from_ndjson(
        "file://" + dmain, spark=spark, glob_filter="*.ndjson"
    ).resource(
        "MedicationRequest",
        schemas=FhirSchemaModel().with_overrides(
            {"MedicationRequest": extended}
        ),
    )
    mr_codes = mr.select(
        F.get(col("medicationCodeableConcept.coding"), 0)["code"].alias(
            "rx_code"
        )
    )
    return (
        mr_codes.join(F.broadcast(mk_flat), "rx_code")
        .groupBy("rx_code", "dose_form", "mk_status", "unit_cost_cents")
        .agg(F.count(F.lit(1)).cast("long").alias("n_requests"))
        .select(
            "rx_code",
            "dose_form",
            "mk_status",
            "n_requests",
            "unit_cost_cents",
            (col("n_requests") * col("unit_cost_cents"))
            .cast("long")
            .alias("total_cost_cents"),
        )
    )


def q_fhir_contract_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payer-contract term rollup — the THIRTEENTH batch's Contract
    proof row: per-patient ext-corpus Contracts carry k%3+1 terms
    (per-term applies Periods, typed offers, quarter-exact valued-item
    nets); the query explodes the one-level-deep term tree through the
    newly-curated recursive-capped schema and rolls up per (contract
    type, status, term type) with integer cents totals and the term
    applies span."""
    from interop_spark.fhir import read_from_ndjson
    from interop_spark.fhir.gen import write_ext_corpus

    d = write_ext_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)
    nd = read_from_ndjson("file://" + d, spark=spark, glob_filter="*.ndjson")
    ct = nd.resource("Contract").select(
        "id",
        "status",
        F.get(col("type.coding"), 0)["code"].alias("contract_type"),
        F.explode("term").alias("t"),
    )
    terms = ct.select(
        "id",
        "status",
        "contract_type",
        F.get(col("t.type.coding"), 0)["code"].alias("term_type"),
        col("t.applies.start").alias("t_start"),
        col("t.applies.end").alias("t_end"),
        (
            F.get(F.get(col("t.asset"), 0)["valuedItem"], 0)["net"]["value"]
            * 100
        )
        .cast("long")
        .alias("net_cents"),
    )
    return terms.groupBy("contract_type", "status", "term_type").agg(
        F.countDistinct("id").cast("long").alias("n_contracts"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("net_cents").cast("long").alias("total_net_cents"),
        F.min("t_start").alias("min_term_start"),
        F.max("t_end").alias("max_term_end"),
    )


_E2E_LIMIT = 100  # same corpus key as tests/test_e2e_chain.py → fixture reuse


def q_fhir_notebook_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Notebook-mirror END-TO-END chain as ONE driver-checked row (r15
    verdict item 7; the reference CI's own pass criterion is "the
    notebook completes", `integration-test-aws-pr.yml:38-41`, and the
    notebook sequence is `01_dbignite_sample.py:20-602`): bundle-file
    ingest → entry() → per-resource BULK TABLE SINK → re-join SQL over
    the WRITTEN tables → Patient×Condition flatten → OMOP person →
    df_to_fhir writer emit → JSON re-parse. Every hop feeds the next, so
    a regression anywhere in the chain (reader parse, table round-trip,
    rejoin, CDM projection, writer encode) flips this row's value hash —
    the oracle recomputes the expected per-patient frame relationally
    from `customer` (the corpus is closed-form in c_custkey).

    Scale shape: the sink is a per-resource parquet saveAsTable (the
    distributed path); the rejoin is a bundleUUID equi-join between the
    two written tables; the writer leg is one projection → JSON encode →
    variant re-parse. No driver-side collect anywhere in the chain (the
    corpus materialization itself is bounded fixture tooling)."""
    from interop_spark.fhir import Bundle, Mapping, MappingManager, read_from_directory
    from interop_spark.fhir.analytics import omop_person, patient_conditions
    from interop_spark.fhir.gen import write_corpus
    from interop_spark.fhir.schema import CONDITION, PATIENT, FhirSchemaModel
    from interop_spark.fhir.write import bulk_table_write, drop_table_if_exists

    loc = "nb_e2e.driver"
    corpus = write_corpus(spark, sf_dir, max_custkey=_E2E_LIMIT)
    entry = read_from_directory(
        "file://" + corpus, spark=spark, glob_filter="*.json"
    ).entry(
        schemas=FhirSchemaModel(
            fhir_resource_map={"Patient": PATIENT, "Condition": CONDITION}
        )
    )
    # the entry frame feeds the two table sinks AND the omop_person
    # leg — lazy localCheckpoint so the wholetext read + bundle parse
    # runs ONCE for the chain instead of once per consumer (r19
    # optimization round; the local-mode analog of staging entry() to
    # a table, which the docstring's scale posture prescribes)
    entry = entry.localCheckpoint(eager=False)
    # -- table sink, then REJOIN over the written tables (K2 + S5) -----
    for t in ("Patient", "Condition"):
        drop_table_if_exists(spark, f"{loc}.{t}")
    # a PRIOR session's warehouse may have left the managed-table
    # location behind with no catalog entry (DROP above is then a
    # no-op and saveAsTable fails LOCATION_ALREADY_EXISTS) — purge the
    # row's DEDICATED database directory so the chain is idempotent
    # across sessions sharing a cwd
    import os
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if wh:
        shutil.rmtree(
            os.path.join(wh, "nb_e2e_driver.db"), ignore_errors=True
        )
    bulk_table_write(
        entry, loc, columns=["Patient", "Condition"], materialize=False
    )
    rejoined = spark.table("nb_e2e_driver.Patient").join(
        spark.table("nb_e2e_driver.Condition"), "bundleUUID"
    )
    pc = patient_conditions(rejoined).select(
        "Patient", "condition_code", "clinical_status"
    )
    persons = omop_person(entry).select(
        "person_id", col("year_of_birth").cast("int").alias("year_of_birth")
    )
    # -- writer leg: flatten → FHIR Patient bundle → JSON re-parse -----
    src = pc.select(
        col("Patient").alias("PAT_ID"),
        col("condition_code").alias("COND_CODE"),
    )
    emitted = Bundle(
        MappingManager(
            [
                Mapping("PAT_ID", "Patient.id"),
                Mapping("COND_CODE", "Patient.name.text"),
            ],
            src.schema,
        )
    ).df_to_fhir_df(src)
    rt = emitted.select(
        F.try_parse_json(col("value")).alias("v")
    ).select(
        F.variant_get("v", "$.entry[0].resource.id", "string").alias(
            "rt_patient"
        ),
        F.variant_get(
            "v", "$.entry[0].resource.name[0].text", "string"
        ).alias("rt_cond"),
    )
    return (
        pc.join(persons, pc.Patient == persons.person_id)
        .join(rt, pc.Patient == rt.rt_patient)
        .select(
            col("Patient").alias("patient"),
            "condition_code",
            "clinical_status",
            "year_of_birth",
            "rt_cond",
        )
    )


QUERIES = {
    "bundle_collect_flatten": q_bundle_collect_flatten,
    "fhir_notebook_e2e": q_fhir_notebook_e2e,
    "fhir_adt_timeline": q_fhir_adt_timeline,
    "fhir_writer_roundtrip": q_fhir_writer_roundtrip,
    "multimodal_features": q_multimodal_features,
    "fhir_patient_conditions": q_fhir_patient_conditions,
    "fhir_patient_claims": q_fhir_patient_claims,
    "fhir_medication_requests": q_fhir_medication_requests,
    "fhir_providers_practitioners": q_fhir_providers_practitioners,
    "fhir_omop_person": q_fhir_omop_person,
    "fhir_ingest_corpus": q_fhir_ingest_corpus,
    "fhir_patient_observations": q_fhir_patient_observations,
    "fhir_condition_text": q_fhir_condition_text,
    "fhir_diagnostic_reports": q_fhir_diagnostic_reports,
    "fhir_questionnaire_answers": q_fhir_questionnaire_answers,
    "fhir_mixed_resource_counts": q_fhir_mixed_resource_counts,
    "fhir_ndjson_observations": q_fhir_ndjson_observations,
    "fhir_ndjson_type_counts": q_fhir_ndjson_type_counts,
    "fhir_ndjson_patient_conditions": q_fhir_ndjson_patient_conditions,
    "fhir_ndjson_coverage_bundles": q_fhir_ndjson_coverage_bundles,
    "fhir_omop_condition_occurrence": q_fhir_omop_condition_occurrence,
    "fhir_omop_drug_exposure": q_fhir_omop_drug_exposure,
    "fhir_omop_drug_era": q_fhir_omop_drug_era,
    "fhir_omop_device_exposure": q_fhir_omop_device_exposure,
    "fhir_device_metrics": q_fhir_device_metrics,
    "fhir_adverse_events": q_fhir_adverse_events,
    "fhir_questionnaire_join": q_fhir_questionnaire_join,
    "fhir_omop_visit_occurrence": q_fhir_omop_visit_occurrence,
    "fhir_omop_procedure_occurrence": q_fhir_omop_procedure_occurrence,
    "fhir_omop_measurement": q_fhir_omop_measurement,
    "fhir_omop_death": q_fhir_omop_death,
    "fhir_omop_observation_period": q_fhir_omop_observation_period,
    "fhir_nutrition_orders": q_fhir_nutrition_orders,
    "fhir_invoice_totals": q_fhir_invoice_totals,
    "fhir_omop_provider": q_fhir_omop_provider,
    "fhir_omop_payer_plan_period": q_fhir_omop_payer_plan_period,
    "fhir_omop_care_site": q_fhir_omop_care_site,
    "fhir_insurance_plans": q_fhir_insurance_plans,
    "fhir_omop_cost": q_fhir_omop_cost,
    "fhir_omop_condition_era": q_fhir_omop_condition_era,
    "fhir_omop_location": q_fhir_omop_location,
    "fhir_omop_observation": q_fhir_omop_observation,
    "fhir_omop_specimen": q_fhir_omop_specimen,
    "fhir_omop_device_era": q_fhir_omop_device_era,
    "fhir_quality_measure_catalog": q_fhir_quality_measure_catalog,
    "fhir_omop_note": q_fhir_omop_note,
    "fhir_research_enrollment": q_fhir_research_enrollment,
    "fhir_omop_visit_detail": q_fhir_omop_visit_detail,
    "fhir_request_group_actions": q_fhir_request_group_actions,
    "fhir_writer_canonical_leaves": q_fhir_writer_canonical_leaves,
    "fhir_omop_dose_era": q_fhir_omop_dose_era,
    "fhir_omop_cohort": q_fhir_omop_cohort,
    "fhir_concept_map_translate": q_fhir_concept_map_translate,
    "fhir_terminology_catalog": q_fhir_terminology_catalog,
    "fhir_ndjson_export_errors": q_fhir_ndjson_export_errors,
    "fhir_reference_integrity": q_fhir_reference_integrity,
    "fhir_slots": q_fhir_slots,
    "fhir_flags": q_fhir_flags,
    "fhir_omop_episode": q_fhir_omop_episode,
    "fhir_omop_fact_relationship": q_fhir_omop_fact_relationship,
    "fhir_medication_knowledge_costs": q_fhir_medication_knowledge_costs,
    "fhir_contract_terms": q_fhir_contract_terms,
}

# the 4 deterministic rows adt_events yields from the reference's sample
# bundles (reference sampledata/adt_records), timestamps pre-rendered UTC
_ADT_ROWS = [
    (
        "555-55-5555", "2023-03-31 22:46:42.163", "ADT_A09",
        "patient departing", "patient departing - tracking", "ADT_A09",
        "http://terminology.hl7.org/CodeSystem/v2-0354", "Carl", "Carlson",
        "1960-05-06", "male", "123456789driver1", "123456",
    ),
    (
        "555-55-5555", "2023-03-30 13:38:48.516", "ADT_A01",
        "admit", "admit a patient as an inpatient", "ADT_A01",
        "http://terminology.hl7.org/CodeSystem/v2-0354", "Carl", "Carlson",
        "1960-05-06", "male", "123456789driver1", "123456",
    ),
    (
        "101-01-0001", "2023-03-31 22:36:42.939", "ADT_A31",
        "update person info", "update person or patient information",
        "ADT_A31", "http://terminology.hl7.org/CodeSystem/v2-0354",
        "Timothy", "Bixby", "2008-01-06", "male", None, None,
    ),
    (
        "101-01-0001", "2023-03-31 22:36:24.844", "ADT_A28",
        "add person info", "add person or patient information",
        "ADT_A28", "http://terminology.hl7.org/CodeSystem/v2-0354",
        "Timothy", "Bixby", "2008-01-06", "male", None, None,
    ),
]

_ADT_COLS = (
    "ssn", "event_timestamp", "adt_type", "action", "description", "code",
    "system", "first_name", "last_name", "birthDate", "gender",
    "drivers_license_id", "empi_id",
)


def _adt_values_sql() -> str:
    def lit(v) -> str:
        if v is None:
            return "CAST(NULL AS VARCHAR)"
        return "'" + v.replace("'", "''") + "'"

    rows = ",\n          ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in _ADT_ROWS
    )
    cols = ", ".join(f'"{c}"' for c in _ADT_COLS)
    return (
        f"SELECT * FROM (VALUES\n          {rows}\n        ) AS t({cols})"
    )


def _dk_uuid(expr: str) -> str:
    """DuckDB twin of reader._uuid_from_md5: md5 hex → 8-4-4-4-12."""
    m = f"md5({expr})"
    return (
        f"concat_ws('-', substr({m},1,8), substr({m},9,4), substr({m},13,4), "
        f"substr({m},17,4), substr({m},21,12))"
    )


# closed-form twins of the fhir/gen.py field derivations
_DK_UUID = _dk_uuid("'mem://bundles/' || c_custkey::VARCHAR")
_DK_BIRTH = (
    "printf('%04d-%02d-%02d', 1950 + c_custkey % 50, "
    "c_custkey % 12 + 1, c_custkey % 28 + 1)"
)
_DK_COND_DATE = (
    "printf('%04d-%02d-%02d', 2015 + c_custkey % 8, "
    "(c_custkey + 3) % 12 + 1, (c_custkey + 5) % 28 + 1)"
)
_DK_CLIN_STATUS = (
    "CASE WHEN c_custkey % 3 = 0 THEN 'resolved' ELSE 'active' END"
)


# NDJSON-v6 condition follow-up history: the base recordedDate plus the
# two follow-up dates (gaps k%40+10 and k%20+25 straddle the 30-day OMOP
# persistence window). Applies to the NDJSON corpus only — the bundle
# corpus keeps its single Condition per patient.
def _dk_cond_date_plus(days_expr: str) -> str:
    return (
        f"strftime(CAST({_DK_COND_DATE} AS DATE) + "
        f"to_days(CAST({days_expr} AS INTEGER)), '%Y-%m-%d')"
    )


_DK_COND_DATE2 = _dk_cond_date_plus("c_custkey % 40 + 10")
_DK_COND_DATE3 = _dk_cond_date_plus("c_custkey % 40 + 10 + c_custkey % 20 + 25")
_DK_CLAIM_TYPE = (
    "CASE (c_custkey % 4) WHEN 0 THEN 'institutional' WHEN 1 THEN 'oral' "
    "WHEN 2 THEN 'pharmacy' ELSE 'professional' END"
)
_DK_MED_STATUS = (
    "CASE (c_custkey % 3) WHEN 0 THEN 'active' WHEN 1 THEN 'completed' "
    "ELSE 'stopped' END"
)
# v15 refill history: the base authoredOn and the two follow-up dates
# (gaps straddle the 30-day OMOP persistence window) + shifted statuses
_DK_MED_DATE = (
    "printf('%04d-%02d-%02d', 2018 + c_custkey % 6, "
    "(c_custkey + 1) % 12 + 1, (c_custkey + 7) % 28 + 1)"
)


def _dk_med_date_plus(days_expr: str) -> str:
    return (
        f"strftime(CAST({_DK_MED_DATE} AS DATE) + "
        f"to_days(CAST({days_expr} AS INTEGER)), '%Y-%m-%d')"
    )


def _dk_med_status(shift: int) -> str:
    return (
        f"CASE ((c_custkey + {shift}) % 3) WHEN 0 THEN 'active' "
        "WHEN 1 THEN 'completed' ELSE 'stopped' END"
    )


_DK_MED_DATE2 = _dk_med_date_plus("c_custkey % 40 + 10")
_DK_MED_DATE3 = _dk_med_date_plus("c_custkey % 40 + 10 + c_custkey % 20 + 25")
_CPT = "http://www.ama-assn.org/go/cpt"
# NDJSON-v8 closed forms: social-history Observation date, Specimen
# collection date, and the 3-wear DeviceUseStatement history (same
# k%40+10 / k%20+25 gap forms as the condition follow-ups)
_DK_SH_OBS_DATE = (
    "printf('%04d-%02d-%02d', 2017 + c_custkey % 6, "
    "(c_custkey + 8) % 12 + 1, (c_custkey + 3) % 28 + 1)"
)
_DK_SPEC_DATE = (
    "printf('%04d-%02d-%02d', 2018 + c_custkey % 7, "
    "(c_custkey + 6) % 12 + 1, (c_custkey + 17) % 28 + 1)"
)
_DK_DUS_DATE = (
    "printf('%04d-%02d-%02d', 2021 + c_custkey % 4, "
    "(c_custkey + 3) % 12 + 1, (c_custkey + 14) % 28 + 1)"
)


def _dk_dus_date_plus(days_expr: str) -> str:
    return (
        f"strftime(CAST({_DK_DUS_DATE} AS DATE) + "
        f"to_days(CAST({days_expr} AS INTEGER)), '%Y-%m-%d')"
    )


_DK_DUS_DATE2 = _dk_dus_date_plus("c_custkey % 40 + 10")
_DK_DUS_DATE3 = _dk_dus_date_plus("c_custkey % 40 + 10 + c_custkey % 20 + 25")


ORACLE = {
    "fhir_patient_conditions": f"""
        SELECT {_DK_UUID} AS UNIQUE_FHIR_ID,
               'p-' || c_custkey::VARCHAR AS Patient,
               {_DK_BIRTH} AS Birth_date,
               {_DK_CLIN_STATUS} AS clinical_status,
               'C' || (c_custkey % 50)::VARCHAR AS condition_code,
               'http://snomed.info/sct' AS condition_type_code,
               'cond-' || (c_custkey % 50)::VARCHAR AS condition_description,
               {_DK_COND_DATE} AS condition_date
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_patient_claims": f"""
        SELECT {_DK_UUID} AS UNIQUE_FHIR_ID,
               'p-' || c_custkey::VARCHAR AS Patient,
               'Patient/p-' || c_custkey::VARCHAR AS claim_patient_id,
               'cl-' || c_custkey::VARCHAR AS claim_id,
               {_DK_BIRTH} AS Birth_date,
               {_DK_CLAIM_TYPE} AS claim_type_cd,
               'Coverage/cov-' || (c_custkey % 7)::VARCHAR AS insurer,
               c_acctbal AS claim_billed_amount,
               'proc-' || (c_custkey % 40)::VARCHAR || '|' ||
                 'proc-' || ((c_custkey + 1) % 40)::VARCHAR AS prcdr_description,
               'PR' || (c_custkey % 40)::VARCHAR || '|' ||
                 'PR' || ((c_custkey + 1) % 40)::VARCHAR AS prcdr_cd,
               '{_CPT}|{_CPT}' AS prcdr_coding_system
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_medication_requests": f"""
        SELECT {_DK_UUID} AS UNIQUE_FHIR_ID,
               'p-' || c_custkey::VARCHAR AS Patient,
               {_DK_MED_STATUS} AS status,
               'order' AS intent,
               {_DK_MED_DATE} AS authoredOn,
               'med-' || (c_custkey % 30)::VARCHAR AS rx_text,
               'RX' || (c_custkey % 30)::VARCHAR AS rx_code,
               'http://www.nlm.nih.gov/research/umls/rxnorm' AS code_type
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT {_DK_UUID}, 'p-' || c_custkey::VARCHAR,
               {_dk_med_status(1)}, 'order', {_DK_MED_DATE2},
               'med-' || (c_custkey % 30)::VARCHAR,
               'RX' || (c_custkey % 30)::VARCHAR,
               'http://www.nlm.nih.gov/research/umls/rxnorm'
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT {_DK_UUID}, 'p-' || c_custkey::VARCHAR,
               {_dk_med_status(2)}, 'order', {_DK_MED_DATE3},
               'med-' || (c_custkey % 30)::VARCHAR,
               'RX' || (c_custkey % 30)::VARCHAR,
               'http://www.nlm.nih.gov/research/umls/rxnorm'
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_providers_practitioners": f"""
        SELECT {_DK_UUID} AS UNIQUE_FHIR_ID,
               (c_custkey % 2 = 0) AS active,
               CASE WHEN c_custkey % 2 = 0 THEN 'female' ELSE 'male' END
                 AS gender,
               'phone' AS primary_contact_method,
               printf('555-%04d', c_custkey % 10000) AS primary_contact_value,
               'work' AS primary_use
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_person": f"""
        SELECT 'p-' || c_custkey::VARCHAR AS person_id,
               'G' || (c_custkey % 100)::VARCHAR AS given_name,
               'F' || (c_custkey % 100)::VARCHAR AS family_name,
               CASE WHEN c_custkey % 2 = 0 THEN 'male' ELSE 'female' END
                 AS gender_source_value,
               CAST(1950 + c_custkey % 50 AS INTEGER) AS year_of_birth,
               CAST(c_custkey % 12 + 1 AS INTEGER) AS month_of_birth,
               CAST(c_custkey % 28 + 1 AS INTEGER) AS day_of_birth,
               'city-' || (c_custkey % 25)::VARCHAR AS city
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_notebook_e2e": f"""
        SELECT 'p-' || c_custkey::VARCHAR AS patient,
               'C' || (c_custkey % 50)::VARCHAR AS condition_code,
               {_DK_CLIN_STATUS} AS clinical_status,
               CAST(1950 + c_custkey % 50 AS INTEGER) AS year_of_birth,
               'C' || (c_custkey % 50)::VARCHAR AS rt_cond
        FROM customer WHERE c_custkey < {_E2E_LIMIT}
    """,
    "fhir_ingest_corpus": f"""
        SELECT 'C' || (c_custkey % 50)::VARCHAR AS condition_code,
               {_DK_CLIN_STATUS} AS clinical_status,
               count(1) AS n_patients,
               min('p-' || c_custkey::VARCHAR) AS min_patient,
               max({_DK_COND_DATE}) AS max_condition_date
        FROM customer WHERE c_custkey < {_CORPUS_LIMIT}
        GROUP BY 1, 2
    """,
    "fhir_patient_observations": f"""
        SELECT {_DK_UUID} AS UNIQUE_FHIR_ID,
               'p-' || c_custkey::VARCHAR AS Patient,
               CASE (c_custkey % 3) WHEN 0 THEN 'final'
                 WHEN 1 THEN 'amended' ELSE 'preliminary' END AS obs_status,
               'L' || (c_custkey % 20)::VARCHAR AS obs_code,
               'http://loinc.org' AS obs_code_system,
               c_custkey % 60 + 140 + (c_custkey % 10) / 10.0 AS obs_value,
               'cm' AS obs_unit,
               printf('%04d-%02d-%02d', 2019 + c_custkey % 5,
                      (c_custkey + 2) % 12 + 1,
                      (c_custkey + 9) % 28 + 1) AS effective_date
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_diagnostic_reports": f"""
        SELECT {_DK_UUID} AS UNIQUE_FHIR_ID,
               'p-' || c_custkey::VARCHAR AS Patient,
               'dx-' || c_custkey::VARCHAR AS report_id,
               CASE (c_custkey % 3) WHEN 0 THEN 'final'
                 WHEN 1 THEN 'amended' ELSE 'corrected' END AS report_status,
               'LAB' || (c_custkey % 15)::VARCHAR AS report_code,
               'http://loinc.org' AS report_code_system,
               printf('%04d-%02d-%02d', 2020 + c_custkey % 4,
                      (c_custkey + 4) % 12 + 1,
                      (c_custkey + 11) % 28 + 1) AS effective_date,
               'conclusion-' || (c_custkey % 10)::VARCHAR AS conclusion,
               'Observation/obs-' || c_custkey::VARCHAR AS first_result_ref
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_questionnaire_answers": f"""
        WITH b AS (
          SELECT c_custkey AS k, {_dk_uuid("'mem://bundles/' || c_custkey::VARCHAR")} AS u,
                 'qr-' || c_custkey::VARCHAR AS rid,
                 CASE (c_custkey % 3) WHEN 0 THEN 'completed'
                   WHEN 1 THEN 'in-progress' ELSE 'amended' END AS st,
                 'Questionnaire/phq-' || (c_custkey % 3)::VARCHAR AS q,
                 printf('%04d-%02d-%02d', 2021 + c_custkey % 3,
                        (c_custkey + 6) % 12 + 1,
                        (c_custkey + 13) % 28 + 1) AS au
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        )
        SELECT u AS UNIQUE_FHIR_ID, rid AS response_id, st AS response_status,
               q AS questionnaire, au AS authored,
               'score' AS link_id, 'question-score' AS question_text,
               CAST(k % 27 AS INTEGER) AS answer_integer,
               CAST(NULL AS VARCHAR) AS answer_string
        FROM b
        UNION ALL
        SELECT u, rid, st, q, au,
               'note', 'question-note',
               CAST(NULL AS INTEGER),
               'note-' || (k % 7)::VARCHAR
        FROM b
    """,
    "fhir_mixed_resource_counts": f"""
        WITH b AS (
          SELECT c_custkey AS k FROM customer
          WHERE c_custkey < {_SYNTH_LIMIT}
        )
        SELECT 'Patient' AS resource_type, count(1) AS n_resources,
               min('p-' || k::VARCHAR) AS min_id,
               max('p-' || k::VARCHAR) AS max_id,
               CAST(0 AS BIGINT) AS n_langs
        FROM b
        UNION ALL
        SELECT 'DiagnosticReport', count(1), min('dx-' || k::VARCHAR),
               max('dx-' || k::VARCHAR), CAST(0 AS BIGINT)
        FROM b
        UNION ALL
        SELECT 'QuestionnaireResponse', count(1), min('qr-' || k::VARCHAR),
               max('qr-' || k::VARCHAR), CAST(0 AS BIGINT)
        FROM b
        UNION ALL
        SELECT 'Basic', count(1), min('bas-' || k::VARCHAR),
               max('bas-' || k::VARCHAR),
               CAST(count(DISTINCT CASE (k % 3) WHEN 0 THEN 'en'
                     WHEN 1 THEN 'es' ELSE 'fr' END) AS BIGINT)
        FROM b
    """,
    "fhir_slots": f"""
        SELECT 'slot-' || c_custkey::VARCHAR AS slot_id,
               CASE (c_custkey % 3) WHEN 0 THEN 'busy'
                 WHEN 1 THEN 'free' ELSE 'busy-tentative' END AS slot_status,
               'Schedule/sch-' || (c_custkey % 5)::VARCHAR AS schedule_ref,
               CASE ((c_custkey + 1) % 3) WHEN 0 THEN 'ROUTINE'
                 WHEN 1 THEN 'WALKIN' ELSE 'CHECKUP' END AS appt_type,
               printf('%04d-%02d-%02dT%02d:00:00Z', 2024 + c_custkey % 2,
                      (c_custkey + 8) % 12 + 1, (c_custkey + 17) % 28 + 1,
                      c_custkey % 10 + 8) AS slot_start,
               printf('%04d-%02d-%02dT%02d:30:00Z', 2024 + c_custkey % 2,
                      (c_custkey + 8) % 12 + 1, (c_custkey + 17) % 28 + 1,
                      c_custkey % 10 + 8) AS slot_end
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_flags": f"""
        SELECT 'flag-' || c_custkey::VARCHAR AS flag_id,
               CASE ((c_custkey + 2) % 3) WHEN 0 THEN 'active'
                 WHEN 1 THEN 'inactive' ELSE 'entered-in-error'
                 END AS flag_status,
               CASE (c_custkey % 3) WHEN 0 THEN 'safety'
                 WHEN 1 THEN 'clinical' ELSE 'drug' END AS flag_category,
               'FL' || (c_custkey % 10)::VARCHAR AS flag_code,
               'Patient/p-' || c_custkey::VARCHAR AS patient_ref,
               printf('%04d-%02d-%02d', 2022 + c_custkey % 3,
                      (c_custkey + 10) % 12 + 1,
                      (c_custkey + 19) % 28 + 1) AS flag_start
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_condition_occurrence": f"""
        SELECT 'cond-' || c_custkey::VARCHAR AS condition_occurrence_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               'C' || (c_custkey % 50)::VARCHAR AS condition_concept_code,
               'http://snomed.info/sct' AS condition_vocabulary,
               'condtext-' || (c_custkey % 50)::VARCHAR
                 AS condition_source_value,
               printf('%04d-%02d-%02d', 2015 + c_custkey % 8,
                      (c_custkey + 3) % 12 + 1,
                      (c_custkey + 5) % 28 + 1) AS condition_start_date,
               {_DK_CLIN_STATUS} AS condition_status_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_drug_exposure": f"""
        SELECT 'mr-' || c_custkey::VARCHAR AS drug_exposure_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               'RX' || (c_custkey % 30)::VARCHAR AS drug_concept_code,
               'med-' || (c_custkey % 30)::VARCHAR AS drug_source_value,
               {_DK_MED_DATE} AS drug_exposure_start_date,
               {_DK_MED_STATUS} AS drug_status_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'mr2-' || c_custkey::VARCHAR, 'p-' || c_custkey::VARCHAR,
               'RX' || (c_custkey % 30)::VARCHAR,
               'med-' || (c_custkey % 30)::VARCHAR,
               {_DK_MED_DATE2}, {_dk_med_status(1)}
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'mr3-' || c_custkey::VARCHAR, 'p-' || c_custkey::VARCHAR,
               'RX' || (c_custkey % 30)::VARCHAR,
               'med-' || (c_custkey % 30)::VARCHAR,
               {_DK_MED_DATE3}, {_dk_med_status(2)}
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_device_exposure": f"""
        WITH d AS (
          SELECT c_custkey AS k,
                 printf('%04d-%02d-%02d', 2021 + c_custkey % 4,
                        (c_custkey + 3) % 12 + 1,
                        (c_custkey + 14) % 28 + 1) AS dus_start
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        )
        SELECT 'dus-' || k::VARCHAR AS device_exposure_id,
               'p-' || k::VARCHAR AS person_id,
               'DV' || (k % 15)::VARCHAR AS device_concept_code,
               'UDI-' || (k % 18)::VARCHAR AS unique_device_id,
               dus_start AS device_exposure_start_date,
               strftime(CAST(dus_start AS DATE)
                        + to_days(CAST(k % 90 + 30 AS INTEGER)),
                        '%Y-%m-%d') AS device_exposure_end_date,
               CASE ((k + 1) % 3) WHEN 0 THEN 'active'
                 WHEN 1 THEN 'completed' ELSE 'intended'
                 END AS device_status_source_value
        FROM d
    """,
    "fhir_device_metrics": f"""
        SELECT 'dm-' || c_custkey::VARCHAR AS metric_id,
               'MDC' || (c_custkey % 12)::VARCHAR AS metric_code,
               CASE (c_custkey % 3) WHEN 0 THEN 'mmHg'
                 WHEN 1 THEN 'bpm' ELSE 'pct' END AS metric_unit,
               CASE (c_custkey % 3) WHEN 0 THEN 'measurement'
                 WHEN 1 THEN 'setting' ELSE 'calculation'
                 END AS metric_category,
               CASE ((c_custkey + 1) % 3) WHEN 0 THEN 'on'
                 WHEN 1 THEN 'off' ELSE 'standby'
                 END AS operational_status,
               'Device/dev-' || c_custkey::VARCHAR AS parent_device_ref
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_drug_era": f"""
        WITH e AS (
          SELECT 'p-' || c_custkey::VARCHAR AS person_id,
                 'RX' || (c_custkey % 30)::VARCHAR AS drug_concept_code,
                 CAST({_DK_MED_DATE} AS DATE) AS d
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
          UNION ALL
          SELECT 'p-' || c_custkey::VARCHAR,
                 'RX' || (c_custkey % 30)::VARCHAR,
                 CAST({_DK_MED_DATE2} AS DATE)
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
          UNION ALL
          SELECT 'p-' || c_custkey::VARCHAR,
                 'RX' || (c_custkey % 30)::VARCHAR,
                 CAST({_DK_MED_DATE3} AS DATE)
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        ),
        f AS (
          SELECT person_id, drug_concept_code, d,
                 CASE WHEN d - lag(d) OVER (
                        PARTITION BY person_id, drug_concept_code
                        ORDER BY d) > 30
                      THEN 1 ELSE 0 END AS new_era
          FROM e
        ),
        g AS (
          SELECT person_id, drug_concept_code, d,
                 CAST(sum(new_era) OVER (
                        PARTITION BY person_id, drug_concept_code
                        ORDER BY d ROWS UNBOUNDED PRECEDING) + 1
                      AS INTEGER) AS era_seq
          FROM f
        )
        SELECT person_id, drug_concept_code, era_seq,
               strftime(min(d), '%Y-%m-%d') AS drug_era_start_date,
               strftime(max(d), '%Y-%m-%d') AS drug_era_end_date,
               CAST(count(1) AS BIGINT) AS drug_exposure_count
        FROM g GROUP BY 1, 2, 3
    """,
    "fhir_questionnaire_join": f"""
        SELECT 'Questionnaire/phq-' || (c_custkey % 3)::VARCHAR
                 AS questionnaire_url,
               'PHQ form ' || (c_custkey % 3)::VARCHAR AS form_title,
               CASE (c_custkey % 3) WHEN 0 THEN 'active'
                 WHEN 1 THEN 'draft' ELSE 'retired' END AS form_status,
               CAST(count(1) AS BIGINT) AS n_responses,
               min(printf('%04d-%02d-%02d', 2021 + c_custkey % 3,
                          (c_custkey + 6) % 12 + 1,
                          (c_custkey + 13) % 28 + 1)) AS min_authored,
               max(printf('%04d-%02d-%02d', 2021 + c_custkey % 3,
                          (c_custkey + 6) % 12 + 1,
                          (c_custkey + 13) % 28 + 1)) AS max_authored
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        GROUP BY 1, 2, 3
    """,
    "fhir_adverse_events": f"""
        SELECT 'ae-' || c_custkey::VARCHAR AS event_id,
               CASE WHEN c_custkey % 4 = 0 THEN 'potential'
                 ELSE 'actual' END AS actuality,
               'AE' || (c_custkey % 12)::VARCHAR AS event_code,
               CASE (c_custkey % 2) WHEN 0 THEN 'serious'
                 ELSE 'non-serious' END AS seriousness,
               CASE ((c_custkey + 1) % 3) WHEN 0 THEN 'mild'
                 WHEN 1 THEN 'moderate' ELSE 'severe' END AS severity,
               'Patient/p-' || c_custkey::VARCHAR AS patient_ref,
               printf('%04d-%02d-%02d', 2021 + c_custkey % 4,
                      (c_custkey + 12) % 12 + 1,
                      (c_custkey + 21) % 28 + 1) AS event_date
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_visit_occurrence": f"""
        SELECT 'enc-' || c_custkey::VARCHAR AS visit_occurrence_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               CASE ((c_custkey + 1) % 3) WHEN 0 THEN 'AMB'
                 WHEN 1 THEN 'IMP' ELSE 'EMER' END AS visit_concept_code,
               CASE ((c_custkey + 1) % 3) WHEN 0 THEN 'ambulatory'
                 WHEN 1 THEN 'inpatient' ELSE 'emergency'
                 END AS visit_source_value,
               printf('%04d-%02d-%02d', 2017 + c_custkey % 6,
                      (c_custkey + 4) % 12 + 1,
                      (c_custkey + 6) % 28 + 1) AS visit_start_date,
               printf('%04d-%02d-%02d', 2017 + c_custkey % 6,
                      (c_custkey + 4) % 12 + 1,
                      (c_custkey + 11) % 28 + 1) AS visit_end_date,
               CASE (c_custkey % 3) WHEN 0 THEN 'finished'
                 WHEN 1 THEN 'in-progress' ELSE 'cancelled'
                 END AS visit_status_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_procedure_occurrence": f"""
        SELECT 'prc-' || c_custkey::VARCHAR AS procedure_occurrence_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               'PC' || (c_custkey % 35)::VARCHAR AS procedure_concept_code,
               '{_CPT}' AS procedure_vocabulary,
               'proctext-' || (c_custkey % 35)::VARCHAR
                 AS procedure_source_value,
               printf('%04d-%02d-%02d', 2016 + c_custkey % 7,
                      (c_custkey + 5) % 12 + 1,
                      (c_custkey + 8) % 28 + 1) AS procedure_date,
               CASE ((c_custkey + 1) % 3) WHEN 0 THEN 'completed'
                 WHEN 1 THEN 'in-progress' ELSE 'stopped'
                 END AS procedure_status_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_measurement": f"""
        SELECT 'obs-' || c_custkey::VARCHAR AS measurement_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               'L' || (c_custkey % 20)::VARCHAR AS measurement_concept_code,
               'http://loinc.org' AS measurement_vocabulary,
               printf('%04d-%02d-%02d', 2019 + c_custkey % 5,
                      (c_custkey + 2) % 12 + 1,
                      (c_custkey + 9) % 28 + 1) AS measurement_date,
               c_custkey % 60 + 140 + (c_custkey % 10) / 10.0
                 AS value_as_number,
               'cm' AS unit_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_death": f"""
        SELECT 'p-' || c_custkey::VARCHAR AS person_id,
               CASE WHEN c_custkey % 7 = 0
                 THEN printf('%04d-%02d-%02d', 1990 + c_custkey % 30,
                             (c_custkey + 2) % 12 + 1,
                             (c_custkey + 10) % 28 + 1)
                 ELSE NULL END AS death_date,
               CAST(32817 AS INTEGER) AS death_type_concept_id
        FROM customer
        WHERE c_custkey < {_SYNTH_LIMIT} AND c_custkey % 7 IN (0, 3)
    """,
    "fhir_omop_observation_period": f"""
        WITH d AS (
          SELECT 'p-' || c_custkey::VARCHAR AS person_id,
                 printf('%04d-%02d-%02d', 2015 + c_custkey % 8,
                        (c_custkey + 3) % 12 + 1,
                        (c_custkey + 5) % 28 + 1) AS cond_d,
                 printf('%04d-%02d-%02d', 2017 + c_custkey % 6,
                        (c_custkey + 4) % 12 + 1,
                        (c_custkey + 6) % 28 + 1) AS enc_start,
                 printf('%04d-%02d-%02d', 2017 + c_custkey % 6,
                        (c_custkey + 4) % 12 + 1,
                        (c_custkey + 11) % 28 + 1) AS enc_end,
                 printf('%04d-%02d-%02d', 2016 + c_custkey % 7,
                        (c_custkey + 5) % 12 + 1,
                        (c_custkey + 8) % 28 + 1) AS proc_d,
                 {_DK_MED_DATE} AS med_d,
                 {_DK_MED_DATE2} AS med_d2,
                 {_DK_MED_DATE3} AS med_d3,
                 printf('%04d-%02d-%02d', 2019 + c_custkey % 5,
                        (c_custkey + 2) % 12 + 1,
                        (c_custkey + 9) % 28 + 1) AS obs_d,
                 printf('%04d-%02d-%02d', 2020 + c_custkey % 4,
                        (c_custkey + 4) % 12 + 1,
                        (c_custkey + 11) % 28 + 1) AS diag_d
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        )
        SELECT person_id,
               least(cond_d, enc_start, enc_end, proc_d, med_d, med_d2,
                     med_d3, obs_d, diag_d)
                 AS observation_period_start_date,
               greatest(cond_d, enc_start, enc_end, proc_d, med_d, med_d2,
                        med_d3, obs_d, diag_d)
                 AS observation_period_end_date,
               CAST(44814724 AS INTEGER) AS period_type_concept_id
        FROM d
    """,
    "fhir_nutrition_orders": f"""
        SELECT 'nut-' || c_custkey::VARCHAR AS order_id,
               CASE (c_custkey % 3) WHEN 0 THEN 'active'
                 WHEN 1 THEN 'on-hold' ELSE 'completed' END AS order_status,
               'order' AS order_intent,
               'Patient/p-' || c_custkey::VARCHAR AS patient_ref,
               printf('%04d-%02d-%02d', 2022 + c_custkey % 3,
                      (c_custkey + 7) % 12 + 1,
                      (c_custkey + 15) % 28 + 1) AS order_date,
               'DIET' || (c_custkey % 6)::VARCHAR AS diet_code,
               'instruction-' || (c_custkey % 9)::VARCHAR
                 AS diet_instruction
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_ndjson_observations": f"""
        SELECT 'obs-' || c_custkey::VARCHAR AS obs_id,
               CASE (c_custkey % 3) WHEN 0 THEN 'final'
                 WHEN 1 THEN 'amended' ELSE 'preliminary' END AS obs_status,
               'L' || (c_custkey % 20)::VARCHAR AS obs_code,
               'Patient/p-' || c_custkey::VARCHAR AS patient_ref,
               c_custkey % 60 + 140 + (c_custkey % 10) / 10.0 AS obs_value,
               'cm' AS obs_unit
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL  -- v8 social-history twin: coded value, no quantity
        SELECT 'obs-sh-' || c_custkey::VARCHAR, 'final', '72166-2',
               'Patient/p-' || c_custkey::VARCHAR,
               CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_ndjson_type_counts": f"""
        SELECT 'Patient' AS resourceType,
               CAST(count(1) AS BIGINT) AS n_resources
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'Observation', CAST(count(1) * 2 AS BIGINT)  -- v8 sh twin
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'Specimen', CAST(count(1) AS BIGINT)  -- v8
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'Device', CAST(count(1) AS BIGINT)  -- v8
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'DeviceUseStatement', CAST(count(1) * 3 AS BIGINT)  -- v8
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL SELECT 'Measure', CAST(5 AS BIGINT)  -- v9
        UNION ALL SELECT 'Library', CAST(5 AS BIGINT)  -- v9
        UNION ALL SELECT 'PlanDefinition', CAST(5 AS BIGINT)  -- v9
        UNION ALL SELECT 'ResearchStudy', CAST(5 AS BIGINT)  -- v10
        UNION ALL
        SELECT 'ResearchSubject', CAST(count(1) AS BIGINT)  -- v10
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'DocumentReference', CAST(count(1) AS BIGINT)  -- v10
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'Condition', CAST(count(1) * 3 AS BIGINT)  -- v6 follow-ups
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'Coverage', CAST(count(1) AS BIGINT)
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'Account', CAST(count(1) AS BIGINT)
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'AllergyIntolerance', CAST(count(1) AS BIGINT)
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'OperationOutcome', CAST(count(1) AS BIGINT)
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL
        SELECT 'MedicationRequest', CAST(count(1) * 3 AS BIGINT)  -- v7
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        UNION ALL SELECT 'CodeSystem', CAST(1 AS BIGINT)
        UNION ALL SELECT 'ValueSet', CAST(1 AS BIGINT)
        UNION ALL SELECT 'ConceptMap', CAST(1 AS BIGINT)
    """,
    # v6: three recordings per patient — the flatten carries no
    # condition id, so the rows differ only in condition_date (unnest)
    "fhir_ndjson_patient_conditions": f"""
        SELECT {_dk_uuid("'ndjson://Patient/p-' || c_custkey::VARCHAR")}
                 AS UNIQUE_FHIR_ID,
               'p-' || c_custkey::VARCHAR AS Patient,
               {_DK_BIRTH} AS Birth_date,
               {_DK_CLIN_STATUS} AS clinical_status,
               'C' || (c_custkey % 50)::VARCHAR AS condition_code,
               'http://snomed.info/sct' AS condition_type_code,
               'cond-' || (c_custkey % 50)::VARCHAR AS condition_description,
               unnest([{_DK_COND_DATE}, {_DK_COND_DATE2}, {_DK_COND_DATE3}])
                 AS condition_date
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_condition_era": f"""
        WITH e AS (
          SELECT 'p-' || c_custkey::VARCHAR AS person_id,
                 'C' || (c_custkey % 50)::VARCHAR AS condition_concept_code,
                 unnest([CAST({_DK_COND_DATE} AS DATE),
                         CAST({_DK_COND_DATE2} AS DATE),
                         CAST({_DK_COND_DATE3} AS DATE)]) AS d
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        ),
        f AS (
          SELECT person_id, condition_concept_code, d,
                 CASE WHEN d - lag(d) OVER (
                        PARTITION BY person_id, condition_concept_code
                        ORDER BY d) > 30
                      THEN 1 ELSE 0 END AS new_era
          FROM e
        ),
        g AS (
          SELECT person_id, condition_concept_code, d,
                 CAST(sum(new_era) OVER (
                        PARTITION BY person_id, condition_concept_code
                        ORDER BY d ROWS UNBOUNDED PRECEDING) + 1
                      AS INTEGER) AS era_seq
          FROM f
        )
        SELECT person_id, condition_concept_code, era_seq,
               strftime(min(d), '%Y-%m-%d') AS condition_era_start_date,
               strftime(max(d), '%Y-%m-%d') AS condition_era_end_date,
               CAST(count(1) AS BIGINT) AS condition_occurrence_count
        FROM g GROUP BY 1, 2, 3
    """,
    # the ConceptMap is closed-form (element C<i> -> STD-<i%10>,
    # equivalence alternating), so the translate recomputes relationally:
    # each patient contributes 3 recordings of code C<k%50>
    "fhir_concept_map_translate": f"""
        WITH mapping AS (
          SELECT 'urn:synthetic:std-vocab' AS target_system,
                 'C' || i::VARCHAR AS source_code,
                 'STD-' || (i % 10)::VARCHAR AS std_code,
                 'std-' || (i % 10)::VARCHAR AS std_display,
                 CASE WHEN i % 2 = 0 THEN 'equivalent' ELSE 'wider' END
                   AS equivalence
          FROM range(50) t(i)
        ),
        cond AS (
          SELECT 'C' || (c_custkey % 50)::VARCHAR AS source_code
          FROM customer, range(3) WHERE c_custkey < {_SYNTH_LIMIT}
        )
        SELECT target_system, std_code, std_display,
               CAST(count(1) AS BIGINT) AS n_conditions,
               CAST(count(DISTINCT cond.source_code) AS BIGINT)
                 AS n_source_codes,
               CAST(sum(CASE WHEN equivalence = 'equivalent'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_equivalent
        FROM cond JOIN mapping ON cond.source_code = mapping.source_code
        GROUP BY 1, 2, 3
    """,
    "fhir_omop_dose_era": f"""
        WITH e AS (
          SELECT 'p-' || c_custkey::VARCHAR AS person_id,
                 'RX' || (c_custkey % 30)::VARCHAR AS drug_concept_code,
                 CAST((c_custkey % 4 + 1) * 50 AS DOUBLE) AS dose_value,
                 'mg' AS dose_unit,
                 CAST({_DK_MED_DATE} AS DATE) AS d
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
          UNION ALL
          SELECT 'p-' || c_custkey::VARCHAR,
                 'RX' || (c_custkey % 30)::VARCHAR,
                 CAST((c_custkey % 4 + 1) * 50 AS DOUBLE), 'mg',
                 CAST({_DK_MED_DATE2} AS DATE)
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
          UNION ALL
          SELECT 'p-' || c_custkey::VARCHAR,
                 'RX' || (c_custkey % 30)::VARCHAR,
                 CASE WHEN c_custkey % 3 = 0
                      THEN CAST((c_custkey % 4 + 1) * 100 AS DOUBLE)
                      ELSE CAST((c_custkey % 4 + 1) * 50 AS DOUBLE) END,
                 'mg',
                 CAST({_DK_MED_DATE3} AS DATE)
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        ),
        f AS (
          SELECT person_id, drug_concept_code, dose_value, dose_unit, d,
                 CASE WHEN d - lag(d) OVER (
                        PARTITION BY person_id, drug_concept_code,
                                     dose_value, dose_unit
                        ORDER BY d) > 30
                      THEN 1 ELSE 0 END AS new_era
          FROM e
        ),
        g AS (
          SELECT person_id, drug_concept_code, dose_value, dose_unit, d,
                 CAST(sum(new_era) OVER (
                        PARTITION BY person_id, drug_concept_code,
                                     dose_value, dose_unit
                        ORDER BY d ROWS UNBOUNDED PRECEDING) + 1
                      AS INTEGER) AS era_seq
          FROM f
        )
        SELECT person_id, drug_concept_code, dose_value, dose_unit,
               era_seq,
               strftime(min(d), '%Y-%m-%d') AS dose_era_start_date,
               strftime(max(d), '%Y-%m-%d') AS dose_era_end_date,
               CAST(count(1) AS BIGINT) AS dose_exposure_count
        FROM g GROUP BY 1, 2, 3, 4, 5
    """,
    # cohort: ValueSet membership is (k%50)%5==0 (codes C0,C5,...,C45);
    # the three refills are the shared _DK_MED_DATE closed forms; the
    # single drug code per person makes the first-exposure struct-min
    # tie-free
    "fhir_omop_cohort": f"""
        WITH e AS (
          SELECT 'p-' || c_custkey::VARCHAR AS person_id,
                 'RX' || (c_custkey % 30)::VARCHAR AS drug_concept_code,
                 CAST({_DK_MED_DATE} AS DATE) AS exp_date
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
          UNION ALL
          SELECT 'p-' || c_custkey::VARCHAR,
                 'RX' || (c_custkey % 30)::VARCHAR,
                 CAST({_DK_MED_DATE2} AS DATE)
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
          UNION ALL
          SELECT 'p-' || c_custkey::VARCHAR,
                 'RX' || (c_custkey % 30)::VARCHAR,
                 CAST({_DK_MED_DATE3} AS DATE)
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        ),
        co AS (
          SELECT 'p-' || c_custkey::VARCHAR AS person_id,
                 'C' || (c_custkey % 50)::VARCHAR
                   AS condition_concept_code,
                 CAST({_DK_COND_DATE} AS DATE) AS cond_date
          FROM customer
          WHERE c_custkey < {_SYNTH_LIMIT} AND (c_custkey % 50) % 5 = 0
        ),
        q AS (
          SELECT co.person_id, co.condition_concept_code, co.cond_date,
                 e.exp_date, e.drug_concept_code
          FROM co JOIN e ON co.person_id = e.person_id
          WHERE e.exp_date >= co.cond_date
            AND e.exp_date - co.cond_date <= {COHORT_WINDOW_DAYS}
        )
        SELECT person_id, condition_concept_code,
               strftime(cond_date, '%Y-%m-%d') AS condition_start_date,
               strftime(min(exp_date), '%Y-%m-%d')
                 AS first_exposure_date,
               min(drug_concept_code) AS first_drug_concept_code,
               CAST(min(exp_date) - min(cond_date) AS INT)
                 AS days_to_treatment
        FROM q GROUP BY 1, 2, 3
    """,
    "fhir_omop_location": f"""
        WITH a AS (
          SELECT 'city-' || (c_custkey % 25)::VARCHAR AS city,
                 'S' || (c_custkey % 50)::VARCHAR AS state,
                 substr(printf('%05d', c_custkey % 99999), 1, 3) AS zip,
                 'US' AS country
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        ),
        g AS (
          SELECT city, state, zip, country,
                 CAST(count(1) AS BIGINT) AS n_persons
          FROM a GROUP BY 1, 2, 3, 4
        )
        SELECT md5(concat_ws('|', city, state, zip, country))
                 AS location_id,
               city, state, zip, country, n_persons
        FROM g
    """,
    # v10: the note mapping must DECODE the base64 payload; the oracle
    # just re-derives the plaintext from the closed form
    "fhir_omop_note": f"""
        SELECT 'note-' || c_custkey::VARCHAR AS note_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               printf('%04d-%02d-%02d', 2018 + c_custkey % 6,
                      (c_custkey + 5) % 12 + 1,
                      (c_custkey + 11) % 28 + 1) AS note_date,
               '11506-3' AS note_class_concept_code,
               'note-title-' || (c_custkey % 9)::VARCHAR AS note_title,
               printf('Progress note %d: patient reports condtext-%d'
                      || ' symptoms.', c_custkey % 7, c_custkey % 50)
                 AS note_text,
               'text/plain' AS encoding_source_value,
               'current' AS status_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    # v10 research pair: enrollments roll up against the 5 closed-form
    # trial definitions
    "fhir_research_enrollment": f"""
        WITH s AS (
          SELECT 'study-' || (c_custkey % 5)::VARCHAR AS study_id,
                 c_custkey % 5 AS i,
                 CASE (c_custkey % 4) WHEN 0 THEN 'candidate'
                   WHEN 1 THEN 'on-study' WHEN 2 THEN 'completed'
                   ELSE 'withdrawn' END AS subject_status,
                 CASE (c_custkey % 2) WHEN 0 THEN 'arm-a'
                   ELSE 'arm-b' END AS assigned_arm
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        )
        SELECT study_id,
               'Synthetic Trial ' || i::VARCHAR AS study_title,
               CASE (i % 3) WHEN 0 THEN 'phase-1' WHEN 1 THEN 'phase-2'
                 ELSE 'phase-3' END AS phase_code,
               subject_status, assigned_arm,
               CAST(count(*) AS BIGINT) AS n_subjects
        FROM s GROUP BY 1, 2, 3, 4, 5
    """,
    # r15 ext corpus: Encounter.location ward-transfer segments, 1-3
    # per encounter, per-segment periods — the visit_detail replay
    "fhir_omop_visit_detail": f"""
        SELECT 'vd-enc-' || k::VARCHAR || '-' || i::VARCHAR
                 AS visit_detail_id,
               'p-' || k::VARCHAR AS person_id,
               CAST(i + 1 AS INTEGER) AS visit_detail_seq,
               'ward-' || ((k + i) % 7)::VARCHAR
                 AS care_site_source_value,
               strftime(base + to_days(CAST(i * (k % 4 + 1) AS INTEGER)),
                        '%Y-%m-%d') AS visit_detail_start_date,
               strftime(base + to_days(CAST((i + 1) * (k % 4 + 1)
                                            AS INTEGER)),
                        '%Y-%m-%d') AS visit_detail_end_date,
               CASE WHEN i < k % 3 THEN 'completed' ELSE 'active' END
                 AS status_source_value,
               CASE ((k + 1) % 3) WHEN 0 THEN 'AMB' WHEN 1 THEN 'IMP'
                 ELSE 'EMER' END AS visit_concept_code,
               'vd-enc-' || k::VARCHAR AS visit_occurrence_id
        FROM (SELECT c_custkey AS k,
                     CAST(printf('%04d-%02d-%02d', 2018 + c_custkey % 5,
                                 (c_custkey + 2) % 12 + 1,
                                 (c_custkey + 7) % 28 + 1) AS DATE)
                       AS base
              FROM customer WHERE c_custkey < {_SYNTH_LIMIT})
        CROSS JOIN generate_series(0, 2) AS g(i)
        WHERE i <= k % 3
    """,
    # r15 ext corpus: instantiatesCanonical url|version entries resolve
    # onto the 6 order templates; versions match by construction
    "fhir_request_group_actions": f"""
        WITH rg AS (
          SELECT CASE (k % 3) WHEN 0 THEN 'active' WHEN 1 THEN 'completed'
                   ELSE 'draft' END AS rg_status,
                 (k + j) % 6 AS def_idx
          FROM (SELECT c_custkey AS k FROM customer
                WHERE c_custkey < {_SYNTH_LIMIT})
          CROSS JOIN generate_series(0, 1) AS g(j)
          WHERE j <= k % 2
        )
        SELECT 'http://example.org/fhir/ActivityDefinition/order-'
                 || def_idx::VARCHAR AS url,
               'Order template ' || def_idx::VARCHAR AS def_title,
               CASE (def_idx % 2) WHEN 0 THEN 'ServiceRequest'
                 ELSE 'MedicationRequest' END AS def_kind,
               rg_status,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(*) AS BIGINT) AS n_version_matched
        FROM rg GROUP BY 1, 2, 3, 4
    """,
    # writer canonical/uri passthrough vs urn-normalized system — the
    # oracle is the source projection with ONLY identifier.system
    # prefixed (canonical leaves must come back verbatim)
    "fhir_writer_canonical_leaves": """
        SELECT CAST(c_custkey + 500000 AS VARCHAR) AS ad_id,
               'http://example.org/fhir/ActivityDefinition/tpl-'
                 || CAST(c_custkey AS VARCHAR) AS ad_url,
               '2.' || CAST(c_custkey % 4 AS VARCHAR) AS ad_version,
               'http://example.org/fhir/StructureMap/map-'
                 || CAST(c_custkey % 3 AS VARCHAR)
                 || '|0.' || CAST(c_custkey % 3 AS VARCHAR)
                 AS ad_transform,
               '2.16.840.1.' || CAST(c_custkey AS VARCHAR) AS ad_profile,
               CAST(c_custkey AS VARCHAR) AS patient_id,
               'urn:oid:2.16.840.1.' || CAST(c_custkey AS VARCHAR)
                 AS pat_id_system,
               'mrn-' || CAST(c_custkey AS VARCHAR) AS pat_mrn
        FROM customer WHERE c_custkey < 50
    """,
    # v9 quality trio: closed-form in the 0..4 fixture index
    "fhir_quality_measure_catalog": """
        SELECT 'urn:synthetic:library/l-' || i::VARCHAR AS library_url,
               'm-' || i::VARCHAR AS measure_id,
               'SyntheticMeasure' || i::VARCHAR AS measure_name,
               CASE (i % 3) WHEN 0 THEN 'proportion'
                 WHEN 1 THEN 'ratio' ELSE 'cohort' END AS scoring_code,
               CAST(2 AS INT) AS n_populations,
               'Synthetic Library ' || i::VARCHAR AS library_title,
               '2.' || i::VARCHAR AS library_version,
               'cql-' || i::VARCHAR AS cql_title,
               'pd-' || i::VARCHAR AS plan_id,
               CAST(i % 2 + 1 AS INT) AS n_actions
        FROM (SELECT unnest(generate_series(0, 4)) AS i)
    """,
    # v8 domain split: only the social-history twin passes the
    # NOT-IN-(laboratory, vital-signs) category filter
    "fhir_omop_observation": f"""
        SELECT 'obs-sh-' || c_custkey::VARCHAR AS observation_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               '72166-2' AS observation_concept_code,
               'http://loinc.org' AS observation_vocabulary,
               {_DK_SH_OBS_DATE} AS observation_date,
               CASE (c_custkey % 3) WHEN 0 THEN '266919005'
                 WHEN 1 THEN '8517006' ELSE '77176002'
               END AS value_as_concept_code,
               CASE (c_custkey % 3) WHEN 0 THEN 'Never smoker'
                 WHEN 1 THEN 'Former smoker' ELSE 'Current smoker'
               END AS value_as_string,
               32817 AS observation_type_concept_id
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_specimen": f"""
        SELECT 'spec-' || c_custkey::VARCHAR AS specimen_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               'SPEC' || (c_custkey % 10)::VARCHAR
                 AS specimen_concept_code,
               CASE (c_custkey % 3) WHEN 0 THEN 'Serum'
                 WHEN 1 THEN 'Urine' ELSE 'Whole blood'
               END AS specimen_source_value,
               {_DK_SPEC_DATE} AS specimen_date,
               (c_custkey % 8 + 1) * 2.5 AS quantity,
               'mL' AS unit_source_value,
               CASE (c_custkey % 2) WHEN 0 THEN 'available'
                 ELSE 'unavailable'
               END AS status_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    # same lag/running-sum chain as the condition_era oracle, over the
    # v8 3-wear DUS history dates
    "fhir_omop_device_era": f"""
        WITH e AS (
          SELECT 'p-' || c_custkey::VARCHAR AS person_id,
                 'DV' || (c_custkey % 15)::VARCHAR
                   AS device_concept_code,
                 unnest([CAST({_DK_DUS_DATE} AS DATE),
                         CAST({_DK_DUS_DATE2} AS DATE),
                         CAST({_DK_DUS_DATE3} AS DATE)]) AS d
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        ),
        f AS (
          SELECT person_id, device_concept_code, d,
                 CASE WHEN d - lag(d) OVER (
                        PARTITION BY person_id, device_concept_code
                        ORDER BY d) > 30
                      THEN 1 ELSE 0 END AS new_era
          FROM e
        ),
        g AS (
          SELECT person_id, device_concept_code, d,
                 CAST(sum(new_era) OVER (
                        PARTITION BY person_id, device_concept_code
                        ORDER BY d ROWS UNBOUNDED PRECEDING) + 1
                      AS INTEGER) AS era_seq
          FROM f
        )
        SELECT person_id, device_concept_code, era_seq,
               strftime(min(d), '%Y-%m-%d') AS device_era_start_date,
               strftime(max(d), '%Y-%m-%d') AS device_era_end_date,
               CAST(count(1) AS BIGINT) AS device_exposure_count
        FROM g GROUP BY 1, 2, 3
    """,
    "fhir_terminology_catalog": """
        SELECT 'urn:synthetic:reportable-conditions' AS valueset_url,
               'active' AS valueset_status,
               'http://snomed.info/sct' AS include_system,
               'C' || i::VARCHAR AS code,
               'cond-' || i::VARCHAR AS display,
               'synthetic condition ' || i::VARCHAR AS definition,
               'complete' AS cs_content
        FROM range(0, 50, 5) t(i)
    """,
    "fhir_ndjson_coverage_bundles": f"""
        SELECT {_dk_uuid("'ndjson://Patient/p-' || c_custkey::VARCHAR")}
                 AS UNIQUE_FHIR_ID,
               'Patient/p-' || c_custkey::VARCHAR AS patient_ref,
               CAST(1 AS INTEGER) AS n_coverage,
               CASE WHEN c_custkey % 5 = 0 THEN 'cancelled'
                 ELSE 'active' END AS coverage_status,
               CASE (c_custkey % 3) WHEN 0 THEN 'EHCPOL'
                 WHEN 1 THEN 'PUBLICPOL' ELSE 'HSAPOL' END AS coverage_type,
               'Organization/org-' || (c_custkey % 4)::VARCHAR AS payor_ref,
               CAST(CASE WHEN c_custkey >= 1 AND (c_custkey - 1) % 10 = 0
                 THEN 2 ELSE 1 END AS INTEGER) AS n_accounts,
               CASE WHEN c_custkey >= 1 AND (c_custkey - 1) % 10 = 0
                 THEN least('acct-' || c_custkey::VARCHAR,
                            'acct-' || (c_custkey - 1)::VARCHAR)
                 ELSE 'acct-' || c_custkey::VARCHAR END AS min_account_id,
               CASE WHEN c_custkey >= 1 AND (c_custkey - 1) % 10 = 0
                 THEN greatest('acct-' || c_custkey::VARCHAR,
                               'acct-' || (c_custkey - 1)::VARCHAR)
                 ELSE 'acct-' || c_custkey::VARCHAR END AS max_account_id,
               CAST(1 AS INTEGER) AS n_allergies,
               'ALG' || (c_custkey % 15)::VARCHAR AS allergy_code,
               CASE ((c_custkey + 1) % 3) WHEN 0 THEN 'low'
                 WHEN 1 THEN 'high' ELSE 'unable-to-assess' END
                 AS criticality
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_cost": f"""
        SELECT 'inv-' || c_custkey::VARCHAR AS cost_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               'Procedure' AS cost_domain_id,
               printf('%04d-%02d-%02d', c_custkey % 4 + 2021,
                      (c_custkey + 10) % 12 + 1,
                      (c_custkey + 19) % 28 + 1) AS incurred_date,
               'USD' AS currency_source_value,
               (c_custkey % 900) + 100 + (c_custkey % 4) / 4.0
                 AS total_charge,
               (c_custkey % 900) + 100 + (c_custkey % 4) / 4.0
                 AS total_cost,
               'CHG' || (c_custkey % 8)::VARCHAR AS charge_source_value,
               CASE (c_custkey % 3) WHEN 0 THEN 'issued'
                 WHEN 1 THEN 'balanced' ELSE 'draft' END
                 AS status_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_insurance_plans": """
        SELECT 'ip-' || i::VARCHAR AS plan_id,
               CASE (i % 2) WHEN 0 THEN 'active' ELSE 'retired' END
                 AS plan_status,
               'Plan ' || i::VARCHAR AS plan_name,
               'Organization/org-' || (i % 4)::VARCHAR AS owned_by,
               CASE (i % 3) WHEN 0 THEN 'primary-care' WHEN 1 THEN 'emergency'
                 ELSE 'specialty' END AS benefit_type,
               10.0 + i * 10.0 AS visit_limit,
               CASE (i % 3) WHEN 0 THEN 'bronze' WHEN 1 THEN 'silver'
                 ELSE 'gold' END AS tier,
               CAST(i + 1 AS INTEGER) AS group_size,
               100.0 + i * 25.0 + i / 4.0 AS premium
        FROM range(5) AS t(i)
    """,
    "fhir_omop_care_site": """
        SELECT 'loc-' || j::VARCHAR AS care_site_id,
               'Ward ' || j::VARCHAR AS care_site_name,
               CASE (j % 3) WHEN 0 THEN 'HOSP' WHEN 1 THEN 'ER'
                 ELSE 'ICU' END AS place_of_service_source_value,
               'Hospital ' || (j % 4)::VARCHAR AS care_site_source_value,
               'LCity' || j::VARCHAR AS location_city,
               CASE j WHEN 0 THEN 'CA' WHEN 1 THEN 'NY' WHEN 2 THEN 'TX'
                 WHEN 3 THEN 'WA' WHEN 4 THEN 'OR' ELSE 'AZ' END
                 AS location_state,
               printf('8%04d', j * 31 + 7) AS location_zip,
               30.0 + j / 2.0 AS latitude,
               -120.0 + j / 4.0 AS longitude
        FROM range(6) AS t(j)
    """,
    "fhir_omop_payer_plan_period": f"""
        SELECT 'cov-' || c_custkey::VARCHAR AS payer_plan_period_id,
               'p-' || c_custkey::VARCHAR AS person_id,
               printf('%04d-%02d-01', c_custkey % 8 + 2015,
                      c_custkey % 12 + 1) AS payer_plan_period_start_date,
               CASE WHEN c_custkey % 5 = 0
                 THEN printf('%04d-%02d-28', c_custkey % 8 + 2016,
                             (c_custkey + 3) % 12 + 1)
                 ELSE '2099-12-31' END AS payer_plan_period_end_date,
               'Organization/org-' || (c_custkey % 4)::VARCHAR
                 AS payer_source_value,
               CASE (c_custkey % 3) WHEN 0 THEN 'EHCPOL'
                 WHEN 1 THEN 'PUBLICPOL' ELSE 'HSAPOL' END
                 AS plan_source_value,
               CASE WHEN c_custkey % 5 = 0 THEN 'cancelled'
                 ELSE 'active' END AS status_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_omop_provider": f"""
        SELECT 'dr-' || c_custkey::VARCHAR AS provider_id,
               'Dr. D' || (c_custkey % 100)::VARCHAR AS provider_name,
               printf('1%09d', c_custkey % 1000000) AS npi,
               CASE (c_custkey % 3) WHEN 0 THEN 'MD'
                 WHEN 1 THEN 'DO' ELSE 'NP' END AS specialty_source_value,
               CASE (c_custkey % 2) WHEN 0 THEN 'female'
                 ELSE 'male' END AS gender_source_value
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_invoice_totals": f"""
        SELECT 'inv-' || c_custkey::VARCHAR AS invoice_id,
               CASE (c_custkey % 3) WHEN 0 THEN 'issued'
                 WHEN 1 THEN 'balanced' ELSE 'draft' END AS invoice_status,
               CASE (c_custkey % 2) WHEN 0 THEN 'patient'
                 ELSE 'insurance' END AS invoice_type,
               'Patient/p-' || c_custkey::VARCHAR AS patient_ref,
               printf('%04d-%02d-%02d', 2021 + c_custkey % 4,
                      (c_custkey + 10) % 12 + 1,
                      (c_custkey + 19) % 28 + 1) AS invoice_date,
               (c_custkey % 900) + 100 + (c_custkey % 4) / 4.0
                 AS total_gross,
               'USD' AS currency,
               'CHG' || (c_custkey % 8)::VARCHAR AS charge_code,
               (c_custkey % 900) + 100 + (c_custkey % 4) / 4.0
                 AS line_base_amount
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "fhir_ndjson_export_errors": f"""
        WITH iss AS (
          SELECT CASE (c_custkey % 3) WHEN 0 THEN 'error'
                   WHEN 1 THEN 'warning' ELSE 'information' END AS severity,
                 CASE ((c_custkey + 1) % 3) WHEN 0 THEN 'not-found'
                   WHEN 1 THEN 'invalid' ELSE 'timeout' END AS issue_code
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
          UNION ALL
          SELECT 'warning', 'processing'
          FROM customer
          WHERE c_custkey < {_SYNTH_LIMIT} AND c_custkey % 4 = 0
        )
        SELECT severity, issue_code, CAST(count(1) AS BIGINT) AS n_issues
        FROM iss GROUP BY severity, issue_code
    """,
    "fhir_reference_integrity": f"""
        WITH n AS (
          SELECT CAST(count(1) AS BIGINT) AS c FROM customer
          WHERE c_custkey < {_SYNTH_LIMIT}
        )
        SELECT 'Condition' AS source_type, 'Patient' AS target_type,
               c AS n_refs, c AS n_resolved,
               CAST(0 AS BIGINT) AS n_dangling
        FROM n
        UNION ALL
        SELECT 'Claim', 'Patient', c, c, CAST(0 AS BIGINT) FROM n
        UNION ALL
        SELECT 'NutritionOrder', 'Patient', c, c, CAST(0 AS BIGINT) FROM n
        UNION ALL
        SELECT 'Slot', 'Schedule', c, CAST(0 AS BIGINT), c FROM n
    """,
    "fhir_condition_text": f"""
        SELECT {_DK_UUID} AS UNIQUE_FHIR_ID,
               'cond-' || c_custkey::VARCHAR AS condition_id,
               'C' || (c_custkey % 50)::VARCHAR AS condition_code,
               'condtext-' || (c_custkey % 50)::VARCHAR AS condition_text,
               'cond-' || (c_custkey % 50)::VARCHAR AS condition_description
        FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
    """,
    "bundle_collect_flatten": """
        SELECT c_name AS customer_name,
               o_orderkey AS order_id,
               o_orderstatus AS order_status,
               round(o_totalprice, 2) AS billed_amount
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "fhir_adt_timeline": _adt_values_sql(),
    "fhir_writer_roundtrip": """
        SELECT CAST(c_custkey AS VARCHAR) AS patient_id,
               c_name AS patient_name,
               CAST(c_custkey % 4 AS BIGINT) AS multiple_birth,
               CAST(c_custkey + 100000 AS VARCHAR) AS claim_id,
               c_acctbal AS unit_price,
               strftime(DATE '1995-01-01'
                        + to_days(CAST(c_custkey % 28 AS INTEGER)),
                        '%Y-%m-%d') AS period_start,
               strftime(DATE '1995-01-01'
                        + to_days(CAST(c_custkey % 28 AS INTEGER) + 30),
                        '%Y-%m-%d') AS period_end,
               CAST(c_custkey + 200000 AS VARCHAR) AS med_id,
               CAST(c_custkey % 5 AS BIGINT) AS med_refills,
               CAST(c_custkey + 300000 AS VARCHAR) AS obs_id,
               concat('1995-01-01T',
                      lpad(CAST(c_custkey % 24 AS VARCHAR), 2, '0'), ':',
                      lpad(CAST(c_custkey % 60 AS VARCHAR), 2, '0'),
                      ':00') AS obs_issued,
               'urn:oid:2.16.840.1.' || CAST(c_custkey AS VARCHAR)
                 AS pat_id_system,
               'ssn-' || CAST(c_custkey AS VARCHAR) AS pat_ssn,
               'http://example.org/claims' AS claim_system,
               CAST(c_custkey + 100000 AS VARCHAR) AS claim_id2,
               'urn:uuid:' || concat_ws('-',
                 substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8),
                 substr(md5(CAST(c_custkey AS VARCHAR)), 9, 4),
                 substr(md5(CAST(c_custkey AS VARCHAR)), 13, 4),
                 substr(md5(CAST(c_custkey AS VARCHAR)), 17, 4),
                 substr(md5(CAST(c_custkey AS VARCHAR)), 21, 12))
                 AS med_urn,
               CAST(c_custkey + 400000 AS VARCHAR) AS doc_id,
               'text/plain' AS doc_content_type,
               to_base64(encode('doc-note ' || CAST(c_custkey AS VARCHAR)))
                 AS doc_data_b64,
               'doc-note ' || CAST(c_custkey AS VARCHAR) AS doc_note,
               CAST(c_custkey % 900 + 100 AS BIGINT) AS doc_size,
               'http://files.example.org/doc-' || CAST(c_custkey AS VARCHAR)
                 AS doc_url
        FROM customer WHERE c_custkey < 50
    """,
    "multimodal_features": """
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS sha256,
               CAST(16 AS INTEGER) AS feat_dim
        FROM documents WHERE doc_id < 100
    """,
    # r15b two-level gap-and-island: occurrences -> eras (30d) ->
    # episodes (40d inter-era gap); replays the full window chain
    "fhir_omop_episode": f"""
        WITH e AS (
          SELECT 'p-' || c_custkey::VARCHAR AS person_id,
                 'C' || (c_custkey % 50)::VARCHAR AS code,
                 unnest([CAST({_DK_COND_DATE} AS DATE),
                         CAST({_DK_COND_DATE2} AS DATE),
                         CAST({_DK_COND_DATE3} AS DATE)]) AS d
          FROM customer WHERE c_custkey < {_SYNTH_LIMIT}
        ),
        f AS (
          SELECT person_id, code, d,
                 CASE WHEN d - lag(d) OVER (
                        PARTITION BY person_id, code ORDER BY d) > 30
                      THEN 1 ELSE 0 END AS new_era
          FROM e
        ),
        g AS (
          SELECT person_id, code, d,
                 sum(new_era) OVER (
                   PARTITION BY person_id, code
                   ORDER BY d ROWS UNBOUNDED PRECEDING) AS era_seq
          FROM f
        ),
        eras AS (
          SELECT person_id, code, era_seq, min(d) AS s, max(d) AS e2,
                 count(1) AS occ
          FROM g GROUP BY 1, 2, 3
        ),
        f2 AS (
          SELECT person_id, code, s, e2, occ,
                 CASE WHEN s - lag(e2) OVER (
                        PARTITION BY person_id, code ORDER BY s) > 40
                      THEN 1 ELSE 0 END AS new_ep
          FROM eras
        ),
        g2 AS (
          SELECT person_id, code, s, e2, occ,
                 CAST(sum(new_ep) OVER (
                        PARTITION BY person_id, code
                        ORDER BY s ROWS UNBOUNDED PRECEDING) + 1
                      AS INTEGER) AS episode_number
          FROM f2
        )
        SELECT person_id, code AS episode_concept_code, episode_number,
               strftime(min(s), '%Y-%m-%d') AS episode_start_date,
               strftime(max(e2), '%Y-%m-%d') AS episode_end_date,
               CAST(count(1) AS BIGINT) AS era_count,
               CAST(sum(occ) AS BIGINT) AS episode_event_count
        FROM g2 GROUP BY 1, 2, 3
    """,
    # r15b ext corpus v2: parent specimen espec-k spawns child a0 for
    # every k and a1 for even k; CDM stores both directions
    "fhir_omop_fact_relationship": f"""
        WITH ch AS (
          SELECT 'p-' || k::VARCHAR AS person_id,
                 'espec-' || k::VARCHAR || '-a' || j::VARCHAR AS child_id,
                 'espec-' || k::VARCHAR AS parent_id
          FROM (SELECT c_custkey AS k FROM customer
                WHERE c_custkey < {_SYNTH_LIMIT}),
               generate_series(0, 1) AS g(j)
          WHERE j = 0 OR k % 2 = 0
        )
        SELECT person_id, 'Specimen' AS domain_concept_1,
               child_id AS fact_id_1, 'Specimen' AS domain_concept_2,
               parent_id AS fact_id_2,
               'child of' AS relationship_concept
        FROM ch
        UNION ALL
        SELECT person_id, 'Specimen', parent_id, 'Specimen', child_id,
               'parent of'
        FROM ch
    """,
    # r15b formulary: 30 MedicationKnowledge records, quarter-exact
    # list costs as cents; MAIN corpus MedicationRequests carry code
    # RX(k%30), 3 per patient
    "fhir_medication_knowledge_costs": f"""
        WITH mr AS (
          SELECT 'RX' || (c_custkey % 30)::VARCHAR AS rx_code
          FROM customer, range(3) WHERE c_custkey < {_SYNTH_LIMIT}
        ),
        mk AS (
          SELECT 'RX' || i::VARCHAR AS rx_code,
                 CASE WHEN i % 5 = 0 THEN 'inactive' ELSE 'active' END
                   AS mk_status,
                 CASE (i % 3) WHEN 0 THEN 'tablet' WHEN 1 THEN 'capsule'
                   ELSE 'solution' END AS dose_form,
                 CAST((i % 16 + 1) * 250 AS BIGINT) AS unit_cost_cents
          FROM range(30) t(i)
        )
        SELECT mk.rx_code, dose_form, mk_status,
               CAST(count(1) AS BIGINT) AS n_requests,
               unit_cost_cents,
               CAST(count(1) * unit_cost_cents AS BIGINT)
                 AS total_cost_cents
        FROM mr JOIN mk ON mr.rx_code = mk.rx_code
        GROUP BY 1, 2, 3, 5
    """,
    # r15b payer contracts: k%3+1 terms each, quarter-exact nets,
    # term j applies [issued + 30j, issued + 30(j+1)]
    "fhir_contract_terms": f"""
        WITH t AS (
          SELECT k,
                 CASE (k % 3) WHEN 0 THEN 'executed' WHEN 1 THEN 'offered'
                   ELSE 'terminated' END AS status,
                 CASE (k % 2) WHEN 0 THEN 'healthinsurance'
                   ELSE 'privacy' END AS contract_type,
                 CASE ((k + j) % 2) WHEN 0 THEN 'statutory'
                   ELSE 'subject-to' END AS term_type,
                 strftime(issued + to_days(CAST(j * 30 AS INTEGER)),
                          '%Y-%m-%d') AS t_start,
                 strftime(issued + to_days(CAST((j + 1) * 30 AS INTEGER)),
                          '%Y-%m-%d') AS t_end,
                 CAST(((k + j) % 20 + 1) * 250 AS BIGINT) AS net_cents
          FROM (SELECT c_custkey AS k,
                       make_date(CAST(2019 + c_custkey % 6 AS INTEGER),
                                 CAST((c_custkey + 4) % 12 + 1 AS INTEGER),
                                 CAST((c_custkey + 11) % 28 + 1 AS INTEGER))
                         AS issued
                FROM customer WHERE c_custkey < {_SYNTH_LIMIT}),
               generate_series(0, 2) AS g(j)
          WHERE j <= k % 3
        )
        SELECT contract_type, status, term_type,
               CAST(count(DISTINCT k) AS BIGINT) AS n_contracts,
               CAST(count(1) AS BIGINT) AS n_terms,
               CAST(sum(net_cents) AS BIGINT) AS total_net_cents,
               min(t_start) AS min_term_start,
               max(t_end) AS max_term_end
        FROM t GROUP BY 1, 2, 3
    """,
}
