"""Reverse path: relational rows → FHIR bundle JSON (one bundle per row).

Reference surface (`01_dbignite_sample.py:495-602`):

    maps = [Mapping('DESYNPUF_ID', 'Patient.id'),
            Mapping('BENE_BIRTH_DT', 'Patient.birthDate'),
            Mapping('BENE_COUNTY_CD', 'Patient.address.postalCode'),
            Mapping('CLM_ID', 'Claim.id'),
            Mapping('HCPCS_CD_1', 'Claim.procedure.procedureCodeableConcept.coding.code'),
            ...]
    em = FhirEncoderManager(override_encoders={
        'Claim.procedure.procedureCodeableConcept.coding':
            FhirEncoder(False, False, lambda x: [
                {'code': c, 'system': 'http://.../HCPCS'} for c in x.split(',')])})
    m = MappingManager(maps, df.schema, em)
    result = Bundle(m).df_to_fhir(df)        # RDD[str] of bundle JSON

Spark-first compilation (SURVEY.md §3 EP3): the mapping list compiles to a
single pure-Column expression tree — nested ``struct()``/``array()`` builds
ending in one ``to_json`` — so rows never leave the JVM. Only user-supplied
``FhirEncoder`` lambdas fall back to a Python UDF, and that UDF is scoped to
exactly the affected path: it emits a JSON fragment that re-enters the plan
as a VARIANT (``parse_json``), which ``to_json`` splices verbatim. At 100 TB
the encoder cost is proportional to the overridden columns, not the row.

Semantics for repeated elements:
- path segments that are repeated in FHIR R4 (``address``, ``procedure``,
  ``coding``, …) become arrays;
- N sources mapping to the same path fan out at the OUTERMOST repeated
  segment — e.g. HCPCS_CD_1/2 → two ``procedure`` entries
  (`01_dbignite_sample.py:524-525,527-528`);
- an encoder returning a list expands in place at its keyed path
  (`:534-539`).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from interop_spark.operators.kernels import forget_zip_finders

# FHIR R4 elements with cardinality 0..* among the paths this engine maps
# (public R4 structure knowledge).
REPEATED_SEGMENTS = frozenset(
    {
        "identifier", "name", "telecom", "address", "given", "prefix",
        "suffix", "line", "coding", "extension", "procedure", "diagnosis",
        "item", "insurance", "entry", "payor", "class", "communication",
        "contact", "link", "focus", "destination", "category", "participant",
        "location", "reasonCode", "account", "subject_list", "qualification",
        "content",  # DocumentReference/Communication content is 0..*
    }
)
# Segment-name cardinality is an approximation; these FULL paths override
# it where the same segment name is 0..1/1..1 on a specific resource
# (public R4 structure knowledge: Media.content is a single Attachment).
_NONREPEATED_PATHS = frozenset({"Media.content"})


@dataclass
class Mapping:
    """Declare ``src column → FHIR path`` (`01_dbignite_sample.py:520-529`).

    ``literal=True`` makes ``src`` a constant VALUE instead of a column
    name — the idiom for fixed discriminators like the us-core-race
    extension url (``sampledata/adt_records/ADT_A01_FHIR.json``):

        Mapping(US_CORE_RACE_URL, 'Patient.extension.url', literal=True),
        Mapping('RACE_TEXT', 'Patient.extension.extension.valueString'),

    Literal-only elements never gate fan-out: an extension entry whose
    data columns are all NULL is dropped even though its url constant is
    always set.
    """

    src: str
    fhir_path: str
    literal: bool = False

    @property
    def resource_type(self) -> str:
        return self.fhir_path.split(".")[0]


@dataclass(frozen=True)
class _Lit:
    """Marker for a literal source value inside the mapping tree."""

    value: str


@dataclass
class FhirEncoder:
    """Per-path custom serializer (`01_dbignite_sample.py:532-539`).

    Contract (matches the reference): for an override keyed on a REPEATED
    path (e.g. ``...coding``), ``f`` receives the partially-built target
    value — the default-rendered list of dicts, so the reference's verbatim
    ``lambda x: [... for y in x[0].get("code").split(",")]`` works
    unchanged. For a non-repeated path, ``f`` receives the raw source cell
    string (documented deviation: the partial value there is that same
    scalar). A non-list return at a repeated path is wrapped in a
    one-element array (repeated FHIR elements must serialize as arrays).

    Encoder exceptions are RE-RAISED with path context — a buggy lambda
    fails the job loudly instead of silently emitting ``default`` for
    every row. ``one_to_one`` / ``src_like_tgt`` / ``default`` are carried
    for API parity with the reference's constructor signature.
    """

    one_to_one: bool = True
    src_like_tgt: bool = False
    f: object = None
    default: str = ""

    def to_udf(self, partial_json: bool = False, wrap_array: bool = False,
               path: str = ""):
        func = self.f

        def _encode(v):
            forget_zip_finders()
            if v is None:
                return None
            x = json.loads(v) if partial_json else v
            try:
                out = func(x)
            except Exception as e:
                raise RuntimeError(
                    f"FhirEncoder override at {path!r} failed on input "
                    f"{x!r}: {e}"
                ) from e
            if wrap_array and not isinstance(out, list):
                out = [out]
            return json.dumps(out)

        return F.udf(_encode, StringType())


@dataclass
class FhirEncoderManager:
    """Registry of path-keyed encoder overrides (`01_dbignite_sample.py:531-539`)."""

    override_encoders: dict[str, FhirEncoder] = field(default_factory=dict)

    def get_encoder(self, path: str) -> FhirEncoder | None:
        return self.override_encoders.get(path)


class MappingManager:
    """Bind mappings to a source schema (`01_dbignite_sample.py:540`):
    validates every src column exists and groups paths per resource."""

    def __init__(
        self,
        mappings: list[Mapping],
        src_schema: StructType,
        encoder_manager: FhirEncoderManager | None = None,
    ):
        self.mappings = list(mappings)
        self.src_schema = src_schema
        self.encoder_manager = encoder_manager or FhirEncoderManager()
        names = set(src_schema.fieldNames())
        missing = [
            m.src for m in self.mappings
            if not m.literal and m.src not in names
        ]
        if missing:
            raise ValueError(
                f"mapping source columns not in DataFrame schema: {missing}"
            )

    def by_resource(self) -> dict[str, list[Mapping]]:
        out: dict[str, list[Mapping]] = {}
        for m in self.mappings:
            out.setdefault(m.resource_type, []).append(m)
        return out


# ---------------------------------------------------------------------------
# Compilation: mapping tree → Column expression
# ---------------------------------------------------------------------------


class _Node:
    def __init__(self):
        self.children: dict[str, _Node] = {}
        self.sources: list[str] = []  # leaf source columns, in mapping order

    def insert(self, segments: list[str], src: str) -> None:
        if not segments:
            self.sources.append(src)
            return
        self.children.setdefault(segments[0], _Node()).insert(segments[1:], src)

    def multi_fanout(self) -> int:
        """Max number of parallel sources anywhere under this node."""
        n = max(len(self.sources), 1)
        for c in self.children.values():
            n = max(n, c.multi_fanout())
        return n


# JSON types for non-string FHIR primitives among the mapped paths, keyed
# by (parent segment, leaf segment) or leaf segment alone (public R4
# structure knowledge): Money/Quantity.value is decimal; *.sequence is
# positiveInt and the other _INT_LEAVES are R4 positiveInt/unsignedInt
# leaves; the listed leaves are FHIR booleans; _INSTANT_LEAVES are FHIR
# `instant` primitives (JSON string, but timestamp-typed sources need the
# ISO-8601 'T' separator a plain string cast doesn't produce). Everything
# else is a string primitive — id, code, date, dateTime, uri, url,
# canonical, oid — where casting keeps e.g. a bigint CLM_ID valid as a
# FHIR id (canonical/uri values are already strings in any sane source).
_DECIMAL_LEAVES = frozenset({("total", "value"), ("valueQuantity", "value"),
                             ("quantity", "value"), ("unitPrice", "value")})
_INT_LEAVES = frozenset({"sequence", "rank", "multipleBirthInteger",
                         "numberOfRepeatsAllowed", "numberOfSeries",
                         "numberOfInstances", "size"})  # Attachment.size
_BOOLEAN_LEAVES = frozenset({"active", "preferred", "primary",
                             "deceasedBoolean", "multipleBirthBoolean"})
# R4 `instant` elements among commonly mapped paths: Observation.issued,
# Provenance/AuditEvent.recorded, Meta.lastUpdated
_INSTANT_LEAVES = frozenset({"issued", "recorded", "lastUpdated"})
# R4 oid/uuid-VALUED uri leaves among commonly mapped paths
# (Identifier.system, Bundle.entry.fullUrl): the FHIR `oid`/`uuid`
# primitive value spaces are the urn forms (urn:oid:…, urn:uuid:…), but
# sources almost always carry the bare value — normalize by prefixing
# ONLY when the value is a bare OID / bare UUID, so scheme'd URIs
# (http://…, urn:…) and free-text system ids pass through untouched.
# `canonical` stays the plain string cast by design: its value space
# (URL + optional |version suffix) is exactly what a string source holds.
_URN_VALUE_LEAVES = frozenset({"system", "fullUrl"})
# R4 base64Binary leaves among commonly mapped paths (Attachment.data /
# Attachment.hash under their holding elements, Binary.data): the
# mapping contract is that the SOURCE carries the raw content (string
# or binary column) and the writer emits its base64 — mapping
# pre-encoded base64 through a plain string leaf is always available by
# NOT naming the path here (it would double-encode). `url`/`canonical`
# stay plain string casts by design: their value spaces are exactly
# what a string source holds.
_BASE64_LEAVES = frozenset({
    ("attachment", "data"), ("content", "data"), ("presentedForm", "data"),
    ("photo", "data"), ("Binary", "data"),
    ("attachment", "hash"), ("content", "hash"),
})
_OID_RE = r"^[0-2](\.(0|[1-9][0-9]*))+$"
_UUID_RE = (
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)


def _src_col(src) -> Column:
    return F.lit(src.value) if isinstance(src, _Lit) else F.col(src)


def _leaf_value(src, path: str = "") -> Column:
    segs = path.split(".") if path else []
    leaf = segs[-1] if segs else ""
    parent = segs[-2] if len(segs) > 1 else ""
    c = _src_col(src)
    if (parent, leaf) in _DECIMAL_LEAVES:
        return c.cast("double")
    if (parent, leaf) in _BASE64_LEAVES:
        # raw content → base64Binary; a string source's UTF-8 bytes are
        # the content (Spark 4's base64 is unchunked, matching the FHIR
        # JSON form and DuckDB's to_base64)
        return F.base64(c.cast("binary"))
    if leaf in _INT_LEAVES:
        return c.cast("long")
    if leaf in _BOOLEAN_LEAVES:
        return c.cast("boolean")
    if leaf in _INSTANT_LEAVES:
        # timestamp(_ntz) sources stringify as "yyyy-MM-dd HH:mm:ss";
        # FHIR instant is the ISO-8601 'T' form. String sources in ISO
        # form contain no space and pass through unchanged.
        return F.replace(c.cast("string"), F.lit(" "), F.lit("T"))
    if leaf in _URN_VALUE_LEAVES:
        s = c.cast("string")
        return (
            F.when(s.rlike(_OID_RE), F.concat(F.lit("urn:oid:"), s))
            .when(s.rlike(_UUID_RE), F.concat(F.lit("urn:uuid:"), s))
            .otherwise(s)
        )
    return c.cast("string")


def _render(
    node: _Node,
    path: str,
    em: FhirEncoderManager,
    pick: int | None,
    skip_encoder: bool = False,
) -> Column | None:
    """Render the subtree at ``path`` to a Column.

    ``pick`` selects which parallel source a multi-source leaf should use
    (fan-out index fixed by the outermost repeated ancestor); None = not
    under a fan-out yet. ``skip_encoder`` suppresses the override check at
    THIS path only (used when building the partial value handed to a
    repeated-path encoder lambda).
    """
    enc = em.get_encoder(path)
    if not skip_encoder and enc is not None and enc.f is not None:
        # non-repeated override path — scoped UDF over the (single) source
        # feeding this subtree; its JSON output re-enters the plan as a
        # VARIANT (repeated paths are handled by the parent loop below,
        # which builds the array-wrapped partial value first)
        srcs = _collect_sources(node)
        src = srcs[pick if pick is not None and pick < len(srcs) else 0]
        return F.parse_json(enc.to_udf(path=path)(_src_col(src)))

    if node.sources:
        srcs = node.sources
        if pick is not None:
            src = srcs[pick] if pick < len(srcs) else None
            return _leaf_value(src, path) if src is not None else None
        if len(srcs) == 1:
            return _leaf_value(srcs[0], path)
        # several sources, no repeated ancestor: emit an array of values
        return F.array(*[_leaf_value(s, path) for s in srcs])

    fields = []
    for seg, child in node.children.items():
        seg_path = f"{path}.{seg}" if path else seg
        if seg in REPEATED_SEGMENTS and seg_path not in _NONREPEATED_PATHS:
            child_enc = em.get_encoder(seg_path)
            if child_enc is not None and child_enc.f is not None:
                # reference contract: the lambda receives the PARTIALLY
                # BUILT target (the default-rendered, array-wrapped value
                # — its lambdas do `x[0].get("code")`), and its return
                # replaces that array. The UDF input is gated on a source
                # being set: Spark hoists Python UDFs out of CASE WHEN, so
                # an ungated UDF would run the lambda on empty partials
                # for rows the outer fan-out discards anyway.
                inner = _render(
                    child, seg_path, em, pick, skip_encoder=True
                )
                if inner is None:
                    val = None
                else:
                    gate = _any_source_set(
                        child, pick if pick is not None else 0
                    )
                    udf = child_enc.to_udf(
                        partial_json=True, wrap_array=True, path=seg_path
                    )
                    val = F.parse_json(
                        udf(F.when(gate, F.to_json(F.array(inner))))
                    )
            elif pick is None and child.multi_fanout() > 1:
                # outermost repeated segment under a multi-source path:
                # fan out one element per source; elements whose sources
                # are all NULL are dropped (a NULL HCPCS_CD_2 must not
                # become an empty procedure entry)
                elems = []
                for i in range(child.multi_fanout()):
                    e = _render(child, seg_path, em, i)
                    if e is not None:
                        elems.append(
                            F.when(_any_source_set(child, i), e)
                        )
                val = (
                    F.array_compact(F.array(*elems)) if elems else None
                )
            else:
                inner = _render(child, seg_path, em, pick)
                val = F.array(inner) if inner is not None else None
        else:
            val = _render(child, seg_path, em, pick)
        if val is not None:
            fields.append(val.alias(seg))
    if not fields:
        return None
    return F.struct(*fields)


def _any_source_set(node: _Node, pick: int) -> Column:
    """True when any COLUMN source feeding fan-out element ``pick`` is
    non-null. Literal sources are constants and don't count — an element
    carrying only literals (e.g. a bare extension url) must not force
    emission when its data columns are NULL."""
    cond = F.lit(False)
    for s in _sources_for_pick(node, pick):
        if not isinstance(s, _Lit):
            cond = cond | F.col(s).isNotNull()
    return cond


def _sources_for_pick(node: _Node, pick: int) -> list[str]:
    out = []
    if node.sources:
        if len(node.sources) > pick:
            out.append(node.sources[pick])
        elif len(node.sources) == 1:
            out.append(node.sources[0])
    for c in node.children.values():
        out.extend(_sources_for_pick(c, pick))
    return out


def _collect_sources(node: _Node) -> list[str]:
    out = list(node.sources)
    for c in node.children.values():
        out.extend(_collect_sources(c))
    return out


class Bundle:
    """Compile a MappingManager and emit FHIR bundle JSON per input row
    (`01_dbignite_sample.py:541-542`)."""

    def __init__(self, mapping_manager: MappingManager):
        self.mm = mapping_manager

    def _resource_columns(self) -> dict[str, Column]:
        """Per-resource-type struct Column (resourceType + mapped
        fields) — the compile core shared by the bundle emitter and the
        NDJSON emitter (pure code motion out of ``_bundle_column``)."""
        em = self.mm.encoder_manager
        out: dict[str, Column] = {}
        for rt, maps in self.mm.by_resource().items():
            root = _Node()
            for m in maps:
                segs = m.fhir_path.split(".")[1:]
                root.insert(segs, _Lit(m.src) if m.literal else m.src)
            body = _render(root, rt, em, None)
            resource_fields = [F.lit(rt).alias("resourceType")]
            if body is not None:
                # body is a struct; splice its fields beside resourceType
                for seg, child in root.children.items():
                    resource_fields.append(body.getField(seg).alias(seg))
            out[rt] = F.struct(*resource_fields)
        return out

    def _bundle_column(self) -> Column:
        entries = []
        for rt, res in self._resource_columns().items():
            entry_struct = F.struct(res.alias("resource"))
            # bundle entries are heterogeneous (Patient struct ≠ Claim
            # struct) but Spark arrays are homogeneous — normalize each
            # entry to VARIANT (JVM-side to_json→parse_json, no Python)
            entries.append(F.parse_json(F.to_json(entry_struct)))
        return F.to_json(
            F.struct(
                F.lit("Bundle").alias("resourceType"),
                F.lit("collection").alias("type"),
                F.array(*entries).alias("entry"),
            )
        )

    def df_to_fhir_df(self, df: DataFrame) -> DataFrame:
        """DataFrame[value: string] of bundle JSON — the native form."""
        return df.select(self._bundle_column().alias("value"))

    def df_to_fhir(self, df: DataFrame):
        """RDD[str] for API parity with the reference (`:542,547-548`)."""
        return self.df_to_fhir_df(df).rdd.map(lambda r: r[0])

    def df_to_fhir_ndjson_df(self, df: DataFrame) -> DataFrame:
        """(resourceType, value) frame — ONE NDJSON line per mapped
        RESOURCE per input row, vs one bundle JSON string per row from
        ``df_to_fhir_df``. This is the 100 TB-native output shape: lines
        are splittable on re-ingest (``read_from_ndjson``), and a
        downstream bulk importer consumes per-type files instead of
        unpacking transaction bundles. ``to_json`` drops null fields, so
        a row whose sources for a resource are all NULL still emits that
        resource with only ``resourceType`` — filter upstream if
        all-null rows must not produce resources."""
        parts = [
            df.select(
                F.lit(rt).alias("resourceType"),
                F.to_json(res).alias("value"),
            )
            for rt, res in self._resource_columns().items()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def write_fhir_ndjson(
        self, df: DataFrame, location: str, write_mode: str = "overwrite"
    ) -> None:
        """$export-layout sink for mapped relational rows:
        ``<location>/<Type>/`` part files of resource JSON lines —
        the reverse of ``FhirNdjson`` and the distributed counterpart
        of ``df_to_fhir`` (no single-file bottleneck; each type writes
        in parallel). One job per resource type re-executes the input
        lineage; for >1 type the input is lazily localCheckpoint'd so
        an expensive upstream (e.g. an ``entry()`` parse) runs once —
        at real scale prefer staging the source to a table first."""
        types = self.mm.by_resource()
        if len(types) > 1:
            df = df.localCheckpoint(eager=False)
        for rt, res in self._resource_columns().items():
            (
                df.select(F.to_json(res).alias("value"))
                .write.mode(write_mode)
                .text(f"{location.rstrip('/')}/{rt}")
            )
