"""Conformance tests for the FHIR format layer, anchored to the spec's
own example pairs (SURVEY.md §5: /root/reference/README.md:88-297,
385-719) and the golden example parquet files."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_on_fhir_spark.fhir import (
    annotate,
    derive_schema,
    encode_ndjson,
    merge_tables,
    to_fhir_json,
    union_resources,
    validate,
)
from parquet_on_fhir_spark.fhir.decode import strip_annotations
from parquet_on_fhir_spark.fhir.validate import FhirValidationError, check_or_raise

PATIENT = "/root/reference/examples/Patient.parquet"
OBSERVATION = "/root/reference/examples/ExplanationOfBenefit.parquet"


def _write_ndjson(tmp_path_factory, rows):
    d = str(tmp_path_factory.mktemp("fhir_test"))
    with open(f"{d}/data.ndjson", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return d


def _roundtrip(tmp_path_factory, spark, rows, **kw):
    path = _write_ndjson(tmp_path_factory, rows)
    df = encode_ndjson(spark, path, **kw)
    back = [json.loads(r.json) for r in to_fhir_json(df).collect()]
    return df, sorted(back, key=lambda x: x.get("id", ""))


# --- spec README.md:88-106 — minimal sparse Patient -------------------------------
def test_minimal_patient_schema_and_roundtrip(spark, tmp_path_factory):
    rows = [{"resourceType": "Patient", "id": "p1", "gender": "male"}]
    df, back = _roundtrip(tmp_path_factory, spark, rows, resource_type="Patient")
    # sparse derivation: only observed fields (README.md:15-18)
    assert set(df.columns) == {"resourceType", "id", "gender"}
    assert back == rows


# --- README.md:110-137 — repeating element → LIST ----------------------------------
def test_repeating_element(spark, tmp_path_factory):
    rows = [
        {"resourceType": "Patient", "id": "p1",
         "name": [{"family": "A", "given": ["x", "y"]}, {"family": "B"}]},
    ]
    df, back = _roundtrip(tmp_path_factory, spark, rows, resource_type="Patient")
    f = df.schema["name"]
    assert isinstance(f.dataType, T.ArrayType)
    assert isinstance(f.dataType.elementType, T.StructType)
    assert back == rows


# --- README.md:139-172 — choice type: one sibling field per concrete type ------------
def test_choice_type_expansion_and_exclusivity(spark, tmp_path_factory):
    rows = [
        {"resourceType": "Patient", "id": "p1", "multipleBirthBoolean": False},
        {"resourceType": "Patient", "id": "p2", "multipleBirthInteger": 3},
    ]
    df, back = _roundtrip(tmp_path_factory, spark, rows, resource_type="Patient")
    assert isinstance(df.schema["multipleBirthBoolean"].dataType, T.BooleanType)
    # integer → INT32 (README.md:74-76)
    assert isinstance(df.schema["multipleBirthInteger"].dataType, T.IntegerType)
    assert back == rows

    bad = [{"resourceType": "Patient", "id": "p1",
            "multipleBirthBoolean": True, "multipleBirthInteger": 2}]
    path = _write_ndjson(tmp_path_factory, bad)
    with pytest.raises(FhirValidationError, match="choice group"):
        encode_ndjson(spark, path, resource_type="Patient")


# --- README.md:174-200 — complex element → named group ---------------------------------
def test_complex_element(spark, tmp_path_factory):
    rows = [{"resourceType": "Patient", "id": "p1",
             "maritalStatus": {"coding": [{"code": "M", "system": "http://x"}],
                               "text": "Married"}}]
    df, back = _roundtrip(tmp_path_factory, spark, rows, resource_type="Patient")
    ms = df.schema["maritalStatus"].dataType
    assert isinstance(ms, T.StructType) and "coding" in ms.fieldNames()
    assert back == rows


# --- README.md:202-248 — extensions (recursive, choice values) --------------------------
def test_extensions_recursive(spark, tmp_path_factory):
    rows = [{"resourceType": "Patient", "id": "p1",
             "extension": [
                 {"url": "http://x/race",
                  "extension": [{"url": "ombCategory",
                                 "valueCoding": {"code": "2106-3", "display": "White"}}]},
                 {"url": "http://x/qaly", "valueDecimal": 1.25},
             ]}]
    df, back = _roundtrip(tmp_path_factory, spark, rows, resource_type="Patient")
    ext = df.schema["extension"].dataType.elementType
    assert "extension" in ext.fieldNames()  # depth-2 recursion observed
    # lossless decimal keeps string storage + numeric annotation (README.md:343-363)
    assert isinstance(ext["valueDecimal"].dataType, T.StringType)
    assert "__valueDecimal_numeric" in ext.fieldNames()
    assert back == rows


# --- README.md:250-297 — primitive extension sibling ``_field`` ---------------------------
def test_primitive_extension(spark, tmp_path_factory):
    rows = [{"resourceType": "Patient", "id": "p1", "birthDate": "1970-01-01",
             "_birthDate": {"id": "pd1",
                            "extension": [{"url": "http://x/t",
                                           "valueDateTime": "1970-01-01T00:00:00Z"}]}}]
    df, back = _roundtrip(tmp_path_factory, spark, rows, resource_type="Patient")
    assert isinstance(df.schema["_birthDate"].dataType, T.StructType)
    assert back == rows


# --- README.md:314-341 — date-range annotations -------------------------------------------
def test_date_annotations_partial_dates(spark, tmp_path_factory):
    rows = [
        {"resourceType": "Patient", "id": "p1", "birthDate": "1968"},
        {"resourceType": "Patient", "id": "p2", "birthDate": "1968-10"},
        {"resourceType": "Patient", "id": "p3", "birthDate": "1968-10-11"},
    ]
    path = _write_ndjson(tmp_path_factory, rows)
    df = encode_ndjson(spark, path, resource_type="Patient")
    got = {
        r.id: (str(r["__birthDate_start"]), str(r["__birthDate_end"]))
        for r in df.collect()
    }
    assert got["p1"] == ("1968-01-01 00:00:00", "1968-12-31 23:59:59.999000")
    assert got["p2"] == ("1968-10-01 00:00:00", "1968-10-31 23:59:59.999000")
    assert got["p3"] == ("1968-10-11 00:00:00", "1968-10-11 23:59:59.999000")


# --- README.md:325-327 — the spec's own dateTime anchor example -----------------------------
def test_date_annotation_spec_anchor(spark):
    from parquet_on_fhir_spark.functions.partial_date import (
        fhir_date_end,
        fhir_date_start,
    )

    df = spark.createDataFrame([("2014-06-01T12:05Z",)], "s string").select(
        fhir_date_start("s").alias("start"), fhir_date_end("s").alias("end")
    )
    r = df.collect()[0]
    assert str(r.start) == "2014-06-01 12:05:00"
    assert str(r.end) == "2014-06-01 12:05:59.999000"


# --- README.md:365-381 — quantity canonicalization (Cel → K example) -------------------------
def test_quantity_canonical(spark, tmp_path_factory):
    rows = [{"resourceType": "Observation", "id": "o1",
             "valueQuantity": {"value": 37.0, "unit": "C", "code": "Cel",
                               "system": "http://unitsofmeasure.org"}}]
    path = _write_ndjson(tmp_path_factory, rows)
    df = encode_ndjson(spark, path, resource_type="Observation")
    r = df.select("__valueQuantity_canonical").collect()[0][0]
    assert r["code"] == "K"
    assert abs(float(r["value"]) - 310.15) < 1e-6
    # and the inner numeric annotation exists (examples' shape, SURVEY §1.4)
    assert "__value_numeric" in df.schema["valueQuantity"].dataType.fieldNames()


# --- README.md:365-381 — extended clinical UCUM table ----------------------------------------
def test_quantity_canonical_clinical_units(spark):
    from pyspark.sql import functions as F

    from parquet_on_fhir_spark.fhir.ucum import UCUM_CANONICAL, canonical_quantity

    assert len(UCUM_CANONICAL) >= 80
    cases = [
        # (value, code, expect_canon_value, expect_canon_code)
        ("98.6", "[degF]", 310.15, "K"),          # spec's F example agrees with Cel
        ("37.0", "Cel", 310.15, "K"),
        ("120", "mm[Hg]", 15998.68648980, "Pa"),  # systolic BP
        ("2.133", "kPa", 2133.0, "Pa"),
        ("90", "mg/dL", 0.9, "g/L"),              # glucose, mass-concentration base
        ("14.2", "g/dL", 142.0, "g/L"),           # hemoglobin
        ("5.0", "mmol/L", 0.005, "mol/L"),        # molar base, NOT converted to g/L
        ("140", "umol/L", 0.00014, "mol/L"),
        ("72", "/min", 1.2, "/s"),                # heart rate
        ("4.5", "10*3/uL", 4.5e9, "/L"),          # WBC count
        ("98", "%", 0.98, "1"),                   # SpO2
        ("125", "mL/min", 125e-6 / 60.0, "m3/s"),
        ("40", "U/L", 40.0, "U/L"),
        ("1850", "kcal", 7740400.0, "J"),
        ("12.3", "furlongs", 12.3, "furlongs"),   # unknown → identity passthrough
        (None, "mg", None, "g"),                  # null value; code still canonical
    ]
    df = spark.createDataFrame(
        [(v, c) for v, c, *_ in cases], "value string, code string"
    ).select("code", canonical_quantity(F.col("value"), F.col("code")).alias("q"))
    got = {r["code"]: r["q"] for r in df.collect()}
    for _v, code, want_val, want_code in cases:
        q = got[code]
        assert q["code"] == want_code, (code, q["code"], want_code)
        if want_val is None:
            assert q["value"] is None
        else:
            assert abs(float(q["value"]) - want_val) < max(1e-6, abs(want_val) * 1e-9)
    # molar-mass caveat holds: mass-conc and molar-conc stay in different bases
    assert UCUM_CANONICAL["mg/dL"][0] != UCUM_CANONICAL["mmol/L"][0]


# --- README.md:20-22 — schema merge ------------------------------------------------------------
def test_schema_merge_and_union(spark, tmp_path_factory):
    a = spark.createDataFrame(
        [("Patient", "p1", "male")], "resourceType string, id string, gender string"
    )
    b = spark.createDataFrame(
        [("Patient", "p2", "1970")], "resourceType string, id string, birthDate string"
    )
    u = union_resources(a, b)
    assert set(u.columns) == {"resourceType", "id", "gender", "birthDate"}
    assert u.count() == 2

    base = str(tmp_path_factory.mktemp("fhir_merge"))
    a.write.parquet(f"{base}/a")
    b.write.parquet(f"{base}/b")
    m = merge_tables(spark, f"{base}/a", f"{base}/b")
    assert set(m.columns) == {"resourceType", "id", "gender", "birthDate"}


# --- README.md:29-41 — resourceType invariant ---------------------------------------------------
def test_resource_type_validation(spark):
    mixed = spark.createDataFrame(
        [("Patient", "p1"), ("Observation", "o1")], "resourceType string, id string"
    )
    report = validate(mixed)
    assert any("not constant" in e for e in report["errors"])
    with pytest.raises(FhirValidationError):
        check_or_raise(mixed)


# --- golden files: decode regenerates clean FHIR JSON; annotations strip at depth ----------------
def test_reference_examples_decode(spark):
    p = spark.read.parquet(PATIENT)
    docs = [json.loads(r.json) for r in to_fhir_json(p).collect()]
    assert len(docs) == 100
    assert all(d["resourceType"] == "Patient" for d in docs)

    def no_dunder(obj):
        if isinstance(obj, dict):
            return all(not k.startswith("__") and no_dunder(v) for k, v in obj.items())
        if isinstance(obj, list):
            return all(no_dunder(x) for x in obj)
        return True

    assert all(no_dunder(d) for d in docs)
    # decimals regenerate as JSON numbers, not strings (README.md:11-13 lossless)
    ext_vals = [
        e.get("valueDecimal")
        for d in docs
        for e in d.get("extension", [])
        if "valueDecimal" in e
    ]
    assert ext_vals and all(isinstance(v, (int, float)) for v in ext_vals)


# --- golden files: full decode → re-encode round-trip over the 100-row examples -------------------
@pytest.mark.parametrize(
    "name", ["Patient", "Observation", "ExplanationOfBenefit"]
)
def test_reference_examples_reencode_roundtrip(spark, tmp_path_factory, name):
    p = spark.read.parquet(f"/root/reference/examples/{name}.parquet")
    ndjson_dir = str(tmp_path_factory.mktemp("fhir_rt"))
    to_fhir_json(p).write.mode("overwrite").text(ndjson_dir)
    back = encode_ndjson(spark, ndjson_dir, resource_type=name)
    docs1 = sorted(
        (json.loads(r.json) for r in to_fhir_json(p).collect()), key=lambda d: d["id"]
    )
    docs2 = sorted(
        (json.loads(r.json) for r in to_fhir_json(back).collect()), key=lambda d: d["id"]
    )
    assert docs1 == docs2


# --- annotation recompute matches the file's stored __value_numeric -------------------------------
def test_reference_observation_numeric_annotation_matches(spark):
    o = spark.read.parquet("/root/reference/examples/Observation.parquet")
    stripped = strip_annotations(o.select("id", "valueQuantity"))
    re_ann = annotate(stripped)
    joined = (
        o.select("id", F.col("valueQuantity.__value_numeric").alias("orig"))
        .join(
            re_ann.select(
                "id", F.col("valueQuantity.__value_numeric").alias("recomputed")
            ),
            "id",
        )
        .filter(F.col("orig").isNotNull())
    )
    bad = joined.filter(F.col("orig") != F.col("recomputed")).count()
    assert bad == 0 and joined.count() > 0


# --- ADVICE r1 (high): Quantity.value is THE decimal site (README.md:343+) ---------------
def test_quantity_value_lossless_lexical(spark, tmp_path_factory):
    """valueQuantity.value must store as lossless STRING and regenerate
    as a JSON number with its lexical text (trailing zero, >15 digits)."""
    path = _write_ndjson(tmp_path_factory, [])  # dir only; write raw lines with exact lexical forms
    with open(f"{path}/data.ndjson", "w") as f:
        f.write('{"resourceType":"Observation","id":"o1",'
                '"valueQuantity":{"value":37.10,"unit":"C","code":"Cel"}}\n')
        f.write('{"resourceType":"Observation","id":"o2",'
                '"valueQuantity":{"value":0.30000000000000004441,"unit":"g"}}\n')
    df = encode_ndjson(spark, path, resource_type="Observation")
    vq = df.schema["valueQuantity"].dataType
    assert isinstance(vq["value"].dataType, T.StringType)  # lossless storage
    assert "__value_numeric" in vq.fieldNames()            # typed access annotation
    vals = {r.id: r.valueQuantity.value for r in df.select("id", "valueQuantity").collect()}
    assert vals["o1"] == "37.10"                            # lexical precision kept
    assert vals["o2"] == "0.30000000000000004441"           # > double precision kept
    docs = {d["id"]: d for d in
            (json.loads(r.json) for r in to_fhir_json(df).collect())}
    # regenerates as a raw JSON number token with the original text
    raw = {r.json for r in to_fhir_json(df).collect()}
    assert any('"value":37.10,' in j or '"value":37.10}' in j for j in raw)
    assert any("0.30000000000000004441" in j and '"0.30000000000000004441"' not in j
               for j in raw)
    assert isinstance(docs["o1"]["valueQuantity"]["value"], float)


# --- adversarial: a numeric-looking STRING sharing a decimal site's name stays quoted ------
def test_identifier_value_stays_quoted(spark, tmp_path_factory):
    """Identifier.value ('value' WITHOUT unit/code sibling) is a string;
    a numeric-looking one must NOT be unquoted — the structural marking
    (not name-global regex) guarantees it."""
    rows = [{"resourceType": "Patient", "id": "p1",
             "identifier": [{"system": "http://x/mrn", "value": "0042"}],
             "extension": [{"url": "http://x/score", "valueDecimal": 13.5}]}]
    df, back = _roundtrip(tmp_path_factory, spark, rows, resource_type="Patient")
    assert back == rows  # 0042 still a string, valueDecimal a number
    j = to_fhir_json(df).collect()[0].json
    assert '"value":"0042"' in j and '"valueDecimal":13.5' in j


def test_money_value_decimal(spark, tmp_path_factory):
    """Money shape (value + currency) is decimal-kinded too."""
    rows = [{"resourceType": "Claim", "id": "c1",
             "total": {"value": 99.90, "currency": "USD"}}]
    path = _write_ndjson(tmp_path_factory, rows)
    with open(f"{path}/data.ndjson", "w") as f:
        f.write('{"resourceType":"Claim","id":"c1",'
                '"total":{"value":99.90,"currency":"USD"}}\n')
    df = encode_ndjson(spark, path, resource_type="Claim")
    assert isinstance(df.schema["total"].dataType["value"].dataType, T.StringType)
    j = to_fhir_json(df).collect()[0].json
    assert '"value":99.90' in j


# --- ADVICE r1 (medium): interior null placeholders in paired primitive arrays -------------
def test_paired_primitive_array_null_placeholders(spark, tmp_path_factory):
    """"given":["Jim",null] / "_given":[null,{...}] must keep interior
    nulls (index alignment, README.md:250-297) through decode."""
    rows = [{"resourceType": "Patient", "id": "p1",
             "name": [{"family": "X",
                       "given": ["Jim", None],
                       "_given": [None, {"extension": [
                           {"url": "http://x/nick", "valueCode": "middle"}]}]}]}]
    df, back = _roundtrip(tmp_path_factory, spark, rows, resource_type="Patient")
    assert back == rows
    # unpaired arrays still null-prune (sparse regeneration)
    rows2 = [{"resourceType": "Patient", "id": "p1",
              "name": [{"family": "X", "given": ["Jim", None]}]}]
    _, back2 = _roundtrip(tmp_path_factory, spark, rows2, resource_type="Patient")
    assert back2 == [{"resourceType": "Patient", "id": "p1",
                      "name": [{"family": "X", "given": ["Jim"]}]}]


def test_paired_array_value_only_null(spark, tmp_path_factory):
    """"given":[null] with a live _given survives as [null]."""
    rows = [{"resourceType": "Patient", "id": "p1",
             "name": [{"given": [None],
                       "_given": [{"extension": [
                           {"url": "http://x/enc", "valueCode": "masked"}]}]}]}]
    df, back = _roundtrip(tmp_path_factory, spark, rows, resource_type="Patient")
    assert back == rows


# --- golden file: valueQuantity.value regenerates as a JSON number -------------------------
def test_reference_observation_value_regenerates_number(spark):
    o = spark.read.parquet("/root/reference/examples/Observation.parquet")
    docs = [json.loads(r.json) for r in to_fhir_json(o).collect()]
    vals = [d["valueQuantity"]["value"] for d in docs if "valueQuantity" in d]
    assert vals and all(isinstance(v, (int, float)) for v in vals)


# --- contained resources (hl7.org/fhir/R4/references.html#contained) ----------------
_CONTAINED_DOC = {
    "resourceType": "MedicationRequest", "id": "mr1",
    "status": "active", "intent": "order",
    "contained": [
        {"resourceType": "Medication", "id": "m1",
         "code": {"text": "amoxicillin"},
         "amount": {"numerator": {"value": 250.50, "unit": "mg"},
                    "denominator": {"value": 1.0, "unit": "tablet"}}},
        {"resourceType": "Practitioner", "id": "pr1",
         "name": [{"family": "Smith"}]},
    ],
    "medicationReference": {"reference": "#m1"},
    "requester": {"reference": "#pr1"},
}


def test_contained_resources_roundtrip(spark, tmp_path_factory):
    """contained = sparse merged struct; annotations + lexical decimals
    apply inside it; decode regenerates each element sparsely."""
    # json.dumps would collapse 250.50 → 250.5; write the lexical text raw
    raw = json.dumps(_CONTAINED_DOC).replace("250.5", "250.50")
    d = str(tmp_path_factory.mktemp("contained"))
    with open(f"{d}/r.ndjson", "w") as f:
        f.write(raw + "\n")
    df = encode_ndjson(spark, d, resource_type="MedicationRequest")
    back = [json.loads(r.json) for r in to_fhir_json(df).collect()]
    assert back == [json.loads(raw)]
    # decimal annotation reached inside contained
    el = df.schema["contained"].dataType.elementType
    num = el["amount"].dataType["numerator"].dataType
    assert "__value_numeric" in num.fieldNames()
    assert isinstance(num["value"].dataType, T.StringType)
    # lexical text preserved (trailing zero)
    txt = to_fhir_json(df).collect()[0][0]
    assert "250.50" in txt


def test_extract_contained(spark, tmp_path_factory):
    from parquet_on_fhir_spark.fhir.contained import extract_contained

    path = _write_ndjson(tmp_path_factory, [_CONTAINED_DOC])
    df = encode_ndjson(spark, path, resource_type="MedicationRequest")
    meds = extract_contained(df, "Medication")
    rows = meds.collect()
    assert len(rows) == 1
    assert rows[0]["_parent_id"] == "mr1"
    assert rows[0]["id"] == "m1"
    assert rows[0]["code"]["text"] == "amoxicillin"
    # no filter → both contained rows
    assert extract_contained(df).count() == 2
    # no resourceType match → empty, not error
    assert extract_contained(df, "Observation").count() == 0


def test_resolve_local_reference(spark, tmp_path_factory):
    from parquet_on_fhir_spark.fhir.contained import resolve_local_reference

    path = _write_ndjson(tmp_path_factory, [_CONTAINED_DOC])
    df = encode_ndjson(spark, path, resource_type="MedicationRequest")
    r = resolve_local_reference(df, "medicationReference").collect()[0]
    assert r["medicationReference_resolved"]["id"] == "m1"
    assert r["medicationReference_resolved"]["code"]["text"] == "amoxicillin"
    # non-local / dangling → NULL
    doc2 = dict(_CONTAINED_DOC, id="mr2",
                medicationReference={"reference": "Medication/external"})
    path2 = _write_ndjson(tmp_path_factory, [_CONTAINED_DOC, doc2])
    df2 = encode_ndjson(spark, path2, resource_type="MedicationRequest")
    got = {r["id"]: r["medicationReference_resolved"]
           for r in resolve_local_reference(df2, "medicationReference").collect()}
    assert got["mr1"]["id"] == "m1" and got["mr2"] is None
    # pure projection: no shuffle in the plan
    plan = resolve_local_reference(df2, "medicationReference")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- terminology: ValueSet expansion + ConceptMap translation ---------------------------------
def test_expand_valueset_and_translate(spark):
    from parquet_on_fhir_spark.fhir.terminology import (
        expand_valueset,
        translate_codes,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CM_DOC,
        _CS_DOC,
        _VS_DOC,
        _encode_doc,
    )

    vs = _encode_doc(spark, _VS_DOC, "ValueSet")
    cs = _encode_doc(spark, _CS_DOC, "CodeSystem")
    got = {(r.system, r.code) for r in expand_valueset(vs, cs).collect()}
    assert got == {
        ("http://loinc.org", "8867-4"),
        ("http://loinc.org", "9279-1"),       # 8310-5 excluded
        ("http://example.org/cs/local", "bp-sys"),
        ("http://example.org/cs/local", "bp-dia"),
    }
    # a filter-bearing ValueSet raises rather than silently under-expanding
    import pytest

    filt = dict(_VS_DOC)
    filt = {**_VS_DOC, "id": "vs-f",
            "compose": {"include": [{"system": "http://loinc.org",
                                     "filter": [{"property": "concept",
                                                 "op": "is-a",
                                                 "value": "8867-4"}]}]}}
    vs_f = _encode_doc(spark, filt, "ValueSet")
    with pytest.raises(NotImplementedError):
        expand_valueset(vs_f, cs).collect()

    cm = _encode_doc(spark, _CM_DOC, "ConceptMap")
    facts = spark.createDataFrame(
        [(1, "http://example.org/cs/local", "bp-dia")],
        "row_id long, system string, code string",
    )
    t = translate_codes(facts, cm, "system", "code").collect()
    assert {(r.target_code, r.equivalence) for r in t} == {
        ("8462-4", "equivalent"), ("85354-9", "wider"),
    }


def test_concept_closure_and_isa_filter(spark):
    """Path-doubling closure over a deep chain + is-a/descendent-of
    filter semantics; unsupported filter ops still raise."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        expand_valueset,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import _encode_doc as _encode

    # depth-9 chain c0 > c1 > ... > c8 exercises multiple doubling rounds
    doc = {"code": "c8", "display": "C8"}
    for i in range(7, -1, -1):
        doc = {"code": f"c{i}", "display": f"C{i}", "concept": [doc]}
    cs = _encode(
        spark,
        {
            "resourceType": "CodeSystem", "id": "chain", "status": "active",
            "url": "http://x/cs", "content": "complete", "concept": [doc],
        },
        "CodeSystem",
    )
    edges = concept_edges(cs)
    assert edges.count() == 8
    clo = concept_closure(edges)
    # chain closure: sum over i of (8 - i) pairs = 36, non-reflexive
    assert clo.count() == 36
    assert clo.filter(
        (F.col("ancestor") == "c0") & (F.col("descendant") == "c8")
    ).count() == 1

    def vs_with(op, value):
        return _encode(
            spark,
            {
                "resourceType": "ValueSet", "id": "v", "status": "active",
                "url": "http://x/vs",
                "compose": {"include": [
                    {"system": "http://x/cs",
                     "filter": [{"property": "concept", "op": op,
                                  "value": value}]}]},
            },
            "ValueSet",
        )

    isa = {r.code for r in expand_valueset(vs_with("is-a", "c5"), cs,
                                           closure=clo).collect()}
    assert isa == {"c5", "c6", "c7", "c8"}
    desc = {r.code for r in expand_valueset(vs_with("descendent-of", "c5"), cs,
                                            closure=clo).collect()}
    assert desc == {"c6", "c7", "c8"}

    with pytest.raises(NotImplementedError, match="unsupported ValueSet filter"):
        expand_valueset(vs_with("regex", "c.*"), cs, closure=clo).collect()

    # whole-system include now collects NESTED codes too
    whole = _encode(
        spark,
        {
            "resourceType": "ValueSet", "id": "w", "status": "active",
            "url": "http://x/vs-all",
            "compose": {"include": [{"system": "http://x/cs"}]},
        },
        "ValueSet",
    )
    assert {r.code for r in expand_valueset(whole, cs).collect()} == {
        f"c{i}" for i in range(9)
    }


def test_unbundle_ndjson_splits_and_preserves_decimals(spark, tmp_path_factory):
    """Bundle NDJSON → per-type tables through the raw-subtree
    extraction; lexical decimals inside entries survive to re-decode."""
    from parquet_on_fhir_spark.fhir.encode import unbundle_ndjson
    from parquet_on_fhir_spark.fhir.decode import to_fhir_json

    def bundle(pid, oid, value):
        # value is spliced as a LITERAL (json.dumps would normalize
        # 72.50 → 72.5, defeating the lexical-fidelity assertion)
        return json.dumps({
            "resourceType": "Bundle", "type": "transaction",
            "entry": [
                {"resource": {"resourceType": "Patient", "id": pid,
                               "name": [{"family": "Doe"}]}},
                {"request": {"method": "GET", "url": "Patient"}},  # no resource
                {"resource": {"resourceType": "Observation", "id": oid,
                               "status": "final", "code": {"text": "hr"},
                               "valueQuantity": {"value": "__V__",
                                                  "unit": "bpm"}}},
            ],
        }).replace('"__V__"', value)

    src = str(tmp_path_factory.mktemp("pofs_bundle_src"))
    out = str(tmp_path_factory.mktemp("pofs_bundle_out"))
    with open(f"{src}/bundles.ndjson", "w") as fh:
        fh.write(bundle("p1", "o1", "72.50") + "\n")
        fh.write(bundle("p2", "o2", "98.6") + "\n")
        fh.write(json.dumps({"resourceType": "Patient", "id": "loose"}) + "\n")

    counts = unbundle_ndjson(spark, src, out)
    assert counts == {"Patient": 2, "Observation": 2}

    obs = spark.read.parquet(f"{out}/Observation")
    decoded = {
        json.loads(r[0])["id"]: json.loads(r[0])
        for r in to_fhir_json(obs, resource_type="Observation").collect()
    }
    # 72.50 keeps its trailing zero (lexical fidelity through unbundling)
    assert decoded["o1"]["valueQuantity"]["value"] == 72.50
    raw = {r[0] for r in to_fhir_json(obs, resource_type="Observation").collect()}
    assert any('"value": 72.50' in x or '"value":72.50' in x for x in raw), raw


def test_entry_resource_span_scanner_adversarial():
    """Pure-string scanner: braces/brackets inside strings, escaped
    quotes, nested bundles (inner resource keys ignored), non-object
    resource values skipped."""
    from parquet_on_fhir_spark.fhir.encode import _entry_resource_spans

    line = ('{"resourceType":"Bundle","entry":['
            '{"resource":{"a":"}{","b":[1,2],"c":{"d":"\\"e\\""}}},'
            '{"request":{"url":"x"}},'
            '{"resource":{"x":72.50}}]}')
    assert _entry_resource_spans(line) == [
        '{"a":"}{","b":[1,2],"c":{"d":"\\"e\\""}}',
        '{"x":72.50}',
    ]

    nested = ('{"resourceType":"Bundle","entry":[{"resource":'
              '{"resourceType":"Bundle","entry":[{"resource":{"deep":1}}]}'
              '}]}')
    spans = _entry_resource_spans(nested)
    assert len(spans) == 1 and '"deep":1' in spans[0]

    assert _entry_resource_spans('{"resourceType":"Patient","id":"p"}') == []


@pytest.mark.slow
def test_valueset_predicate_filters(spark):
    """regex/in/not-in/exists code predicates, concept-property
    equality and regex, is-not-a, AND-across-filters, and malformed
    filters that must raise."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        expand_valueset,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    system = "http://example.org/cs/anatomy2"

    def vs(filters):
        return _encode(
            spark,
            {
                "resourceType": "ValueSet", "id": "v", "status": "active",
                "url": "http://x/vs",
                "compose": {"include": [{"system": system, "filter": filters}]},
            },
            "ValueSet",
        )

    def codes(filters, closure=None):
        return {
            r.code
            for r in expand_valueset(vs(filters), cs, closure=closure).collect()
        }

    # regex is WHOLE-value: 'h' matches nothing, 'h.*' matches hand+heart
    assert codes([{"property": "code", "op": "regex", "value": "h"}]) == set()
    assert codes([{"property": "code", "op": "regex", "value": "h.*"}]) == {
        "hand", "heart",
    }
    # in / not-in over comma lists; unknown codes ignored
    assert codes([{"property": "code", "op": "in", "value": "arm,ghost"}]) == {"arm"}
    assert codes([{"property": "code", "op": "not-in", "value": "arm,ghost"}]) == {
        "body", "limb", "hand", "leg", "foot", "organ", "heart",
    }
    # property = / regex against concept.property[]
    assert codes([{"property": "status", "op": "=", "value": "retired"}]) == {"hand"}
    assert codes([{"property": "status", "op": "regex", "value": "act.*"}]) == {
        "body", "limb", "arm", "leg", "foot", "organ", "heart",
    }
    # AND inside one include: limb subtree ∩ retired
    assert codes(
        [{"property": "concept", "op": "is-a", "value": "limb"},
         {"property": "status", "op": "=", "value": "retired"}],
        closure=clo,
    ) == {"hand"}
    # is-not-a needs the closure AND the universe
    assert codes(
        [{"property": "concept", "op": "is-not-a", "value": "limb"}], closure=clo
    ) == {"body", "organ", "heart"}
    # hierarchical op without a closure → targeted error
    with pytest.raises(NotImplementedError, match="concept closure"):
        codes([{"property": "concept", "op": "is-a", "value": "limb"}])
    # exists: true = concepts carrying the property, false = complement
    assert codes([{"property": "laterality", "op": "exists", "value": "true"}]) == {
        "arm", "leg",
    }
    assert codes([{"property": "laterality", "op": "exists", "value": "false"}]) == {
        "body", "limb", "hand", "foot", "organ", "heart",
    }
    # generalizes: ancestors including the anchor (closure read in the
    # other direction)
    assert codes(
        [{"property": "concept", "op": "generalizes", "value": "hand"}],
        closure=clo,
    ) == {"hand", "arm", "limb", "body"}
    # ... and it ANDs with other filters like any include filter
    assert codes(
        [{"property": "concept", "op": "generalizes", "value": "hand"},
         {"property": "status", "op": "=", "value": "retired"}],
        closure=clo,
    ) == {"hand"}
    # code exists (r9): every concept has a code -> true = the whole
    # system, false = empty include
    assert codes([{"property": "code", "op": "exists", "value": "true"}]) == {
        "body", "limb", "arm", "hand", "leg", "foot", "organ", "heart",
    }
    assert codes([{"property": "code", "op": "exists", "value": "false"}]) == set()
    # exists with a non-canonical boolean rendering must RAISE, not
    # silently expand empty ('True' / '1' / NULL are not FHIR booleans)
    for bad_val in ("True", "1", None):
        with pytest.raises(
            NotImplementedError, match="unsupported ValueSet filter"
        ):
            codes(
                [{"property": "laterality", "op": "exists", "value": bad_val}]
            )


@pytest.mark.slow
def test_ecl_expand_subset(spark):
    """fhir/terminology.py::ecl_expand (r9): the supported ECL subset
    over the anatomy CodeSystem — prefixes, wildcard, parens,
    AND/OR/MINUS — plus targeted refusals for the unsupported language
    (refinements, member-of, mixed operators, malformed input)."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    system = "http://example.org/cs/anatomy2"

    def ev(ecl):
        return sorted(r.code for r in ecl_expand(ecl, cs, clo, system).collect())

    assert ev("<< limb") == ["arm", "foot", "hand", "leg", "limb"]
    assert ev("< limb") == ["arm", "foot", "hand", "leg"]
    assert ev(">> hand") == ["arm", "body", "hand", "limb"]
    assert ev("> hand") == ["arm", "body", "limb"]
    assert ev("hand") == ["hand"]
    assert ev("ghost") == []          # unknown focus -> empty, not error
    assert ev("< hand") == []         # leaf has no descendants
    assert ev("*") == sorted(
        ["body", "limb", "arm", "hand", "leg", "foot", "organ", "heart"]
    )
    assert ev("(<< limb) MINUS (<< arm)") == ["foot", "leg", "limb"]
    assert ev("(< body) AND (>> heart)") == ["heart", "organ"]
    assert ev("hand OR heart OR ghost") == ["hand", "heart"]
    assert ev("* MINUS << limb") == ["body", "heart", "organ"]
    # nesting
    assert ev("(( << limb ) MINUS ( << arm )) MINUS leg") == ["foot", "limb"]
    # attribute refinements (r9): focus set semi-joined against
    # concept.property[] assertions
    assert ev("<< limb : laterality = paired") == ["arm", "leg"]
    assert ev("<< limb : status = active") == ["arm", "foot", "leg", "limb"]
    assert ev("* : status = retired") == ["hand"]
    # comma = conjunction; '*' = any attribute
    assert ev("<< limb : status = active , laterality = paired") == [
        "arm", "leg",
    ]
    assert ev("<< limb : * = retired") == ["hand"]
    # unknown attribute / value -> empty, not error
    assert ev("<< limb : ghost = paired") == []
    assert ev("<< limb : laterality = ghost") == []
    # refinement binds tighter than set operators
    assert ev("(<< limb : laterality = paired) OR heart") == [
        "arm", "heart", "leg",
    ]

    # prefixed wildcards are supported since r11
    assert ev("<< *") == sorted(
        ["body", "limb", "arm", "hand", "leg", "foot", "organ", "heart"]
    )
    assert ev("< *") == sorted(
        ["limb", "arm", "hand", "leg", "foot", "organ", "heart"]
    )
    assert ev(">! *") == sorted(["body", "limb", "arm", "leg", "organ"])

    for bad in (
        "^ refset",                       # member-of needs valuesets=
        "hand AND heart OR body",         # mixed ops need parens
        "(hand OR heart",                 # unbalanced
        "",                               # empty
        "hand heart",                     # trailing tokens
        "<< limb : laterality",           # refinement missing '= value'
        "<< limb : = paired",             # refinement missing attribute
        "<< limb : laterality = ",        # refinement missing value
        "<< limb [1..2]",                 # cardinality
        "<< limb {: laterality = paired}",  # attribute group
    ):
        with pytest.raises(NotImplementedError):
            ecl_expand(bad, cs, clo, system).collect()


@pytest.mark.slow
def test_ecl_refinement_concept_set_values(spark):
    """fhir/terminology.py::ecl_expand refinements with SET-valued
    right-hand sides (r9): `attr = << X` means the property value lies
    in that concept set (closure membership), vs a bare token's string
    equality. Uses the findings CodeSystem whose `site` property is
    concept-valued — and whose properties live at nesting depth 2,
    pinning the _concept_properties per-level schema walk."""
    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_FINDINGS_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_FINDINGS_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    system = "http://example.org/cs/findings"

    def ev(ecl):
        return sorted(
            r.code for r in ecl_expand(ecl, cs, clo, system).collect()
        )

    assert ev("<< finding : site = << arm") == ["arm-fracture", "hand-burn"]
    assert ev("<< finding : site = (<< limb MINUS << arm)") == ["leg-sprain"]
    assert ev("<< finding : site = << arm , severity = low") == ["hand-burn"]
    # bare token on a concept-valued property == one-code membership
    assert ev("<< finding : site = hand") == ["hand-burn"]
    # wildcard value set: any concept -> any finding with a site
    assert ev("<< finding : site = *") == [
        "arm-fracture", "hand-burn", "leg-sprain",
    ]


def test_validate_codes_batch(spark):
    """fhir/terminology.py::validate_codes (r9): batch $validate-code —
    membership + display via one broadcast of the expansion; unknown
    codes, wrong systems, and an unknown ValueSet url all yield
    in_valueset=false (never NULL) without shuffling the fact side."""
    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        validate_codes,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _VS_FILTER_DOCS,
        _encode_doc as _encode,
    )

    vs = _encode(spark, _VS_FILTER_DOCS, "ValueSet")
    cs = _encode(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    codes = spark.createDataFrame(
        [
            ("http://example.org/cs/anatomy2", "hand"),
            ("http://example.org/cs/anatomy2", "body"),
            ("http://example.org/cs/other", "hand"),
        ],
        "system string, code string",
    )
    out = validate_codes(
        codes, vs, "system", "code",
        "http://example.org/ValueSet/preds",
        codesystems=cs, closure=clo,
    )
    got = {(r.system, r.code): r for r in out.collect()}
    assert len(got) == 3  # broadcast join must not duplicate fact rows
    hand = got[("http://example.org/cs/anatomy2", "hand")]
    assert hand.in_valueset and hand.display == "Hand"
    body = got[("http://example.org/cs/anatomy2", "body")]
    assert (not body.in_valueset) and body.display is None
    other = got[("http://example.org/cs/other", "hand")]
    assert not other.in_valueset
    # unknown ValueSet url -> empty expansion -> everything false
    none = validate_codes(
        codes, vs, "system", "code",
        "http://example.org/ValueSet/ghost",
        codesystems=cs, closure=clo,
    ).collect()
    assert all(not r.in_valueset for r in none)


@pytest.mark.slow
def test_ecl_member_of(spark):
    """fhir/terminology.py::ecl_expand `^ refset` (r9): a ValueSet acts
    as the reference set (token matches id OR url), expanded once and
    composed like any concept set; depth-1 only — ^ inside the
    referenced refset raises instead of recursing."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
        expand_valueset,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _VS_FILTER_DOCS,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem")
    vs = _encode(spark, _VS_FILTER_DOCS, "ValueSet")
    clo = concept_closure(concept_edges(cs))
    system = "http://example.org/cs/anatomy2"

    def ev(ecl):
        return sorted(
            r.code
            for r in ecl_expand(ecl, cs, clo, system, valuesets=vs).collect()
        )

    # vs-preds (by resource id) expands to {hand, heart, arm, leg, limb, foot}
    assert ev("^ vs-preds") == ["arm", "foot", "hand", "heart", "leg", "limb"]
    assert ev("(^ vs-preds) MINUS << arm") == ["foot", "heart", "leg", "limb"]
    assert ev("(^ vs-preds) AND (^ vs-notlimb)") == ["heart"]
    assert ev("^ ghost-refset") == []  # unknown refset -> empty set
    # ... also when the ValueSet table carries compose REFERENCES (the
    # depth-N strata path — an unknown target there must yield the
    # same empty set, not an empty-strata crash; r11 regression)
    refy = [
        {"resourceType": "ValueSet", "id": "vs-ra", "status": "active",
         "url": "http://example.org/ValueSet/ra",
         "compose": {"include": [
             {"system": system, "concept": [{"code": "arm"}]}]}},
        {"resourceType": "ValueSet", "id": "vs-rb", "status": "active",
         "url": "http://example.org/ValueSet/rb",
         "compose": {"include": [
             {"valueSet": ["http://example.org/ValueSet/ra"]}]}},
    ]
    vs_ref = _encode(spark, refy, "ValueSet")
    assert (
        ecl_expand(
            "^ ghost-refset", cs, clo, system, valuesets=vs_ref
        ).collect()
        == []
    )
    # member-of composes with refinements
    assert ev("(^ vs-preds) : laterality = paired") == ["arm", "leg"]
    # without the ValueSet table the operator refuses
    with pytest.raises(NotImplementedError, match="member-of"):
        ecl_expand("^ vs-preds", cs, clo, system).collect()
    # r11: a refset whose own ECL uses ^ resolves RECURSIVELY — vs-deep
    # references vs-preds through a nested member-of and intersects it
    # with << limb
    deep_doc = _VS_FILTER_DOCS + [{
        "resourceType": "ValueSet", "id": "vs-deep", "status": "active",
        "url": "http://example.org/ValueSet/deep",
        "compose": {"include": [
            {"system": system,
             "filter": [{"property": "constraint", "op": "=",
                         "value": "(^ vs-preds) AND (<< limb)"}]},
        ]}}]
    vs3 = _encode(spark, deep_doc, "ValueSet")
    got = sorted(
        r.code
        for r in ecl_expand(
            "^ vs-deep", cs, clo, system, valuesets=vs3
        ).collect()
    )
    assert got == ["arm", "foot", "hand", "leg", "limb"]
    # a CIRCULAR member-of chain raises ValueError (even a
    # self-reference) instead of recursing forever
    nested_doc = [{
        "resourceType": "ValueSet", "id": "vs-nested", "status": "active",
        "url": "http://example.org/ValueSet/nested",
        "compose": {"include": [
            {"system": system,
             "filter": [{"property": "constraint", "op": "=",
                         "value": "^ vs-nested"}]},
        ]}}]
    vs2 = _encode(spark, nested_doc, "ValueSet")
    with pytest.raises(ValueError, match="circular ECL member-of"):
        ecl_expand("^ vs-nested", cs, clo, system, valuesets=vs2).collect()
    # ... and the same guard holds via expand_valueset itself — ALSO
    # when the cycle mixes id- and url-form references (the stack
    # carries both aliases)
    with pytest.raises(ValueError, match="circular ECL member-of"):
        expand_valueset(vs2, cs, closure=clo).count()
    mixed_cycle = [
        {"resourceType": "ValueSet", "id": "vs-ca", "status": "active",
         "url": "http://example.org/ValueSet/ca",
         "compose": {"include": [
             {"system": system,
              "filter": [{"property": "constraint", "op": "=",
                          "value": "^ vs-cb"}]}]}},
        {"resourceType": "ValueSet", "id": "vs-cb", "status": "active",
         "url": "http://example.org/ValueSet/cb",
         "compose": {"include": [
             {"system": system,
              "filter": [{"property": "constraint", "op": "=",
                          "value": "^ vs-ca"}]}]}},
    ]
    vs4 = _encode(spark, mixed_cycle, "ValueSet")
    with pytest.raises(ValueError, match="circular ECL member-of"):
        ecl_expand("^ vs-ca", cs, clo, system, valuesets=vs4).collect()


@pytest.mark.slow
def test_ecl_dotted_cardinality_reverse(spark):
    """fhir/terminology.py::ecl_expand r9 extensions: dotted attribute
    walks (`focus . attr` → attribute values ∩ universe), cardinality
    (`[m..n] attr` — matching-assertion counts with zero included) and
    reverse attributes (`R attr` — focus member is the assertion
    VALUE), plus their compositions and targeted refusals."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_FINDINGS2_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_FINDINGS2_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    system = "http://example.org/cs/findings2"

    def ev(ecl):
        return sorted(r.code for r in ecl_expand(ecl, cs, clo, system).collect())

    # dotted walks: values land back in the concept universe
    assert ev("<< finding . site") == ["arm", "hand", "leg"]
    assert ev("multi-trauma . site") == ["arm", "leg"]
    # non-concept values ('high'/'low') are dropped by the universe join
    assert ev("<< finding . *") == ["arm", "hand", "leg"]
    assert ev("<< finding . severity") == []
    # chained dots walk stepwise (site values carry no 'site' property)
    assert ev("<< finding . site . site") == []
    assert ev("fatigue . site") == []  # no assertion -> empty, not error
    # cardinality: assertion counts, zero included
    assert ev("< finding : [2..*] site = *") == ["multi-trauma"]
    assert ev("< finding : [0..0] site = *") == ["fatigue"]
    assert ev("<< finding : [0..0] site = *") == ["fatigue", "finding"]
    assert ev("< finding : [1..1] site = << limb") == [
        "arm-fracture", "hand-burn", "leg-sprain",
    ]
    # value condition bounds the COUNT: multi-trauma's site=leg does not
    # match << arm, so only one assertion counts
    assert ev("< finding : [1..2] site = << arm") == [
        "arm-fracture", "hand-burn", "multi-trauma",
    ]
    assert ev("< finding : [3..*] site = *") == []
    # reverse: focus member is the assertion VALUE
    assert ev("* : R site = << finding") == ["arm", "hand", "leg"]
    assert ev("* : R site = multi-trauma") == ["arm", "leg"]
    assert ev("(<< limb) : R site = (< finding : severity = high)") == [
        "arm", "leg",
    ]
    # reverse + cardinality: site of at least two findings
    assert ev("* : [2..*] R site = < finding") == ["arm", "leg"]
    # reverse + conjunction with a forward refinement on the same focus
    assert ev("(<< anatomy) MINUS (* : R site = < finding)") == [
        "anatomy", "limb",
    ]
    for bad in (
        "< finding : [2..1] site = *",    # empty range
        "< finding : [x..y] site = *",    # non-integer bounds
        "<< finding . ",                  # dotted walk missing attr
        "<< finding . : site = arm",      # dot straight into refinement
        "< finding : [1..2]",             # cardinality without attr
        "< finding : R",                  # reverse without attr/value
    ):
        with pytest.raises(NotImplementedError):
            ecl_expand(bad, cs, clo, system).collect()


@pytest.mark.slow
def test_ecl_attribute_groups(spark):
    """fhir/terminology.py::ecl_expand r10 extension: attribute groups
    `{ attr = value , ... }` — self-grouped R4 semantics (one assertion
    must satisfy every member), composition with ungrouped refinements
    and set ops, the r11 in-group cardinality/reverse flags, their r12
    combination on one member, and the targeted refusals (unbalanced
    braces, empty group)."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_FINDINGS2_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_FINDINGS2_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    system = "http://example.org/cs/findings2"

    def ev(ecl):
        return sorted(r.code for r in ecl_expand(ecl, cs, clo, system).collect())

    # single-member group == plain refinement
    assert ev("< finding : { site = arm }") == ev("< finding : site = arm")
    # members on DIFFERENT assertions: self-grouped -> empty, while the
    # ungrouped twin matches (the split a conjunction reading misses)
    assert ev("< finding : { site = arm , severity = high }") == []
    assert ev("< finding : site = arm , severity = high") == [
        "arm-fracture", "multi-trauma",
    ]
    # one assertion satisfying both members (wildcard attr) matches
    assert ev("< finding : { * = arm , site = << limb }") == [
        "arm-fracture", "multi-trauma",
    ]
    # repeated attr in one group: x = arm AND x = leg on ONE assertion
    assert ev("< finding : { site = arm , site = leg }") == []
    # group mixes with ungrouped refinements and set ops
    assert ev("< finding : { site = << limb } , severity = high") == [
        "arm-fracture", "multi-trauma",
    ]
    assert ev(
        "(< finding : { site = leg }) MINUS (< finding : severity = high)"
    ) == ["leg-sprain"]
    # expression-valued members
    assert ev("< finding : { site = ( << arm OR leg ) }") == [
        "arm-fracture", "hand-burn", "leg-sprain", "multi-trauma",
    ]
    # r11: cardinality INSIDE a group counts matches per group — 0 or 1
    # under self-grouping, so [0..0] keeps concepts with ANY
    # non-matching assertion (vs the ungrouped [0..0] = none at all)
    assert ev("< finding : { [0..0] site = arm }") == [
        "arm-fracture", "fatigue", "hand-burn", "leg-sprain",
        "multi-trauma",
    ]
    assert ev("< finding : [0..0] site = arm") == [
        "fatigue", "hand-burn", "leg-sprain",
    ]
    assert ev("< finding : { [1..1] site = << limb }") == [
        "arm-fracture", "hand-burn", "leg-sprain", "multi-trauma",
    ]
    # [2..*] within a self-grouped group is unsatisfiable by
    # construction (each group holds exactly one assertion)
    assert ev("< finding : { [2..*] site = * }") == []
    # r11: reverse INSIDE a group binds the focus to the assertion's
    # VALUE side — anatomy codes appearing as a finding's site
    assert ev("< anatomy : { R site = << finding }") == [
        "arm", "hand", "leg",
    ]
    # r12: cardinality combined with reverse on ONE group member —
    # under self-grouping [1..1] ≡ no cardinality, [2..*] is
    # unsatisfiable, and [0..0] keeps foci with SOME group holding no
    # matching assertion (here: every anatomy code, since only
    # arm-fracture's own site group is excluded for 'arm')
    assert ev("< anatomy : { [1..1] R site = << finding }") == [
        "arm", "hand", "leg",
    ]
    assert ev("< anatomy : { [2..*] R site = << finding }") == []
    assert ev("< anatomy : { [0..0] R site = arm-fracture }") == [
        "arm", "hand", "leg", "limb",
    ]
    # positive + [0..0] reverse members in one group: site values whose
    # assertion does NOT come from a severity=high finding
    assert ev(
        "< anatomy : { [1..*] R site = << finding , "
        "[0..0] R site = ( << finding : severity = high ) }"
    ) == ["hand", "leg"]
    for bad in (
        "< finding : { site = arm",            # unbalanced braces
        "< finding : site = arm }",            # stray close brace
        "< finding : { }",                     # empty group
    ):
        with pytest.raises(NotImplementedError):
            ecl_expand(bad, cs, clo, system).collect()


@pytest.mark.slow
def test_ecl_comparison_operators(spark):
    """fhir/terminology.py::ecl_expand r12 extension: '!=' on concept
    values, numeric '#' concrete values with = != < <= > >=, their
    composition with cardinality, reverse+numeric all-miss semantics
    (r13: the comparison tests the SOURCE code; non-numeric codes
    never match), and the targeted refusals (non-equality comparator
    with a concept value, malformed numeric literal, '#' outside a
    refinement value)."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_MEDS_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_MEDS_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    system = "http://example.org/cs/meds"

    def ev(ecl):
        return sorted(r.code for r in ecl_expand(ecl, cs, clo, system).collect())

    assert ev("< drug : strength >= #250") == [
        "amoxicillin-250", "amoxicillin-500", "ibuprofen-400-plus",
    ]
    assert ev("< drug : strength <= #100") == ["ibuprofen-400-plus"]
    assert ev("< drug : strength = #200") == ["ibuprofen-200"]
    assert ev("< drug : strength != #250") == [
        "amoxicillin-500", "ibuprofen-200", "ibuprofen-400-plus",
    ]
    # numeric against a non-numeric property value: never matches,
    # including under != (try_cast → NULL)
    assert ev("< drug : form != #1") == []
    assert ev("< drug : form != tablet") == ["amoxicillin-500"]
    assert ev("< drug : form != ( << capsule )") == [
        "amoxicillin-250", "ibuprofen-200", "ibuprofen-400-plus",
        "placebo",
    ]
    # cardinality composes: no strength assertion above 300
    assert ev("< drug : [0..0] strength > #300") == [
        "amoxicillin-250", "ibuprofen-200", "placebo",
    ]
    # group: ONE assertion inside the window (400/100 both fail) vs the
    # ungrouped twin (different assertions per side)
    assert ev("< drug : { strength >= #150 , strength <= #300 }") == [
        "amoxicillin-250", "ibuprofen-200",
    ]
    assert ev("< drug : strength >= #150 , strength <= #300") == [
        "amoxicillin-250", "ibuprofen-200", "ibuprofen-400-plus",
    ]
    # reverse + numeric (r13 — refusal lifted): the comparison tests
    # the assertion SOURCE code as a number; meds codes are
    # non-numeric, so every source misses and the focus set is empty
    # (the qf50 fixture covers the non-empty closed forms)
    assert ev("< drug : R form < #2") == []
    for bad in (
        "< drug : strength < tablet",  # non-equality needs '#'-numeric
        "< drug : strength = #2x",     # malformed numeric literal
        "< drug : form = ( #5 )",      # '#' outside a refinement value
        "#5",                          # '#' as a focus term
    ):
        with pytest.raises(NotImplementedError):
            ecl_expand(bad, cs, clo, system).collect()


@pytest.mark.slow
def test_ecl_refinement_and_or(spark):
    """fhir/terminology.py r12: AND/OR between refinement items (',' ≡
    AND), parenthesized nesting, groups/cardinality/reverse members
    composing under OR, the expression-valued-attribute lookahead
    ('( ... ) =' is an attribute NAME, not a parenthesized set), and
    the unparenthesized-mixing refusal."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_FINDINGS2_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_FINDINGS2_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    system = "http://example.org/cs/findings2"

    def ev(ecl):
        return sorted(r.code for r in ecl_expand(ecl, cs, clo, system).collect())

    # AND keyword ≡ comma
    assert ev("< finding : site = arm AND severity = high") == ev(
        "< finding : site = arm , severity = high"
    )
    assert ev("< finding : site = arm OR severity = low") == [
        "arm-fracture", "fatigue", "hand-burn", "leg-sprain",
        "multi-trauma",
    ]
    # parenthesized nesting mixes AND with OR
    assert ev(
        "< finding : ( site = arm OR site = leg ) AND severity = high"
    ) == ["arm-fracture", "multi-trauma"]
    # a group and a cardinality window compose under OR
    assert ev(
        "< finding : { site = arm , severity = high } OR severity = low"
    ) == ["fatigue", "hand-burn", "leg-sprain"]
    assert ev("< finding : [0..0] site = * OR site = arm") == [
        "arm-fracture", "fatigue", "multi-trauma",
    ]
    # '( ... ) =' lookahead: expression-valued attribute NAME, not a
    # parenthesized refinement set (property codes are not concepts
    # here, so the attribute set matches nothing)
    assert ev("< finding : ( * ) = arm") == []
    # a redundant single-item paren is a refinement set
    assert ev("< finding : ( site = arm )") == ev("< finding : site = arm")
    with pytest.raises(NotImplementedError, match="mixed AND/OR"):
        ecl_expand(
            "< finding : site = arm OR severity = low , site = leg",
            cs, clo, system,
        ).collect()
    with pytest.raises(NotImplementedError, match="refinement parens"):
        ecl_expand(
            "< finding : ( site = arm OR severity = low", cs, clo, system
        ).collect()


def test_subsumes_batch(spark):
    """fhir/terminology.py::subsumes (r9): every $subsumes outcome over
    the anatomy closure, NULL codes yield NULL outcome, extra input
    columns pass through, and no row is duplicated by the closure
    joins."""
    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        subsumes,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    pairs = spark.createDataFrame(
        [
            (1, "body", "foot"), (2, "foot", "body"), (3, "heart", "heart"),
            (4, "heart", "foot"), (5, "ghost", "ghost2"), (6, None, "arm"),
        ],
        "pair_id int, code_a string, code_b string",
    )
    out = subsumes(pairs, clo, "http://example.org/cs/anatomy2")
    rows = {r.pair_id: r.outcome for r in out.collect()}
    assert rows == {
        1: "subsumes", 2: "subsumed-by", 3: "equivalent",
        4: "not-subsumed", 5: "not-subsumed", 6: None,
    }
    assert out.count() == 6  # left joins never duplicate the fact side


def test_conceptmap_unmapped_modes(spark):
    """fhir/terminology.py::translate_codes group.unmapped (r9):
    provided/fixed/other-map fallbacks, depth-1 other-map resolution
    (self-referencing fallback terminates), equivalence NULL on rule
    hits, maps without unmapped unchanged, and no fact-row loss or
    duplication across the union."""
    from parquet_on_fhir_spark.fhir.terminology import translate_codes
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CM_UNMAPPED_DOCS,
        _encode_doc as _encode,
    )

    cm = _encode(spark, _CM_UNMAPPED_DOCS, "ConceptMap")
    facts = spark.createDataFrame(
        [
            (1, "http://example.org/cs/a", "x"),
            (2, "http://example.org/cs/a", "q"),
            (3, "http://example.org/cs/b", "q"),
            (4, "http://example.org/cs/c", "w"),
            (5, "http://example.org/cs/c", "v"),
            (6, "http://other.org", "q"),
            (7, "http://example.org/cs/b", "n"),
        ],
        "row_id long, system string, code string",
    )
    out = translate_codes(
        facts, cm, "system", "code", map_url="http://example.org/cm/main"
    )
    rows = {r.row_id: r for r in out.collect()}
    assert len(rows) == 7 and out.count() == 7  # no loss, no duplication
    assert (rows[1].target_code, rows[1].equivalence) == ("X", "equal")
    assert (rows[2].target_code, rows[2].target_system, rows[2].equivalence) == (
        "q", "http://example.org/cs/t", None,
    )
    assert (rows[3].target_code, rows[3].target_display) == ("UNK", "Unknown")
    assert (rows[4].target_code, rows[4].equivalence) == ("W2", "wider")
    assert rows[5].target_code is None  # depth-1: fallback's own rule unused
    assert rows[6].target_code is None  # no group for the system
    # codeless explicit target (R4 optional target.code): keeps its
    # stated equivalence, does NOT fall into the fixed-UNK fallback
    assert (rows[7].target_code, rows[7].target_display) == (None, None)
    assert (rows[7].target_system, rows[7].equivalence) == (
        "http://example.org/cs/t", "unmatched",
    )


@pytest.mark.slow
def test_ecl_children_parents_terms(spark):
    """ecl_expand r10: `<!` children / `>!` parents against the direct
    edge frame, `|term|` annotation stripping, and the refusals
    (stray '!', unpaired '|')."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        ecl_expand,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_FINDINGS2_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_FINDINGS2_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))
    system = "http://example.org/cs/findings2"

    def ev(ecl):
        return sorted(r.code for r in ecl_expand(ecl, cs, clo, system).collect())

    assert ev("<! limb") == ["arm", "leg"]          # direct, not << limb
    assert ev("<! arm") == ["hand"]
    assert ev("<! hand") == []                       # leaf
    assert ev(">! hand") == ["arm"]
    assert ev(">! anatomy") == []                    # root
    # terms are stripped anywhere a code can appear
    assert ev("<< limb |Limb| MINUS <! limb |x|") == ["hand", "limb"]
    assert ev("( <! finding ) : site |Site| = << limb") == [
        "arm-fracture", "hand-burn", "leg-sprain", "multi-trauma",
    ]
    for bad in ("< a ! b", "< a |unclosed", "! a", "<! "):
        with pytest.raises(NotImplementedError):
            ecl_expand(bad, cs, clo, system).collect()


@pytest.mark.slow
def test_closure_delta_matches_full_recompute(spark):
    """fhir/terminology.py::closure_delta (r10): on random layered DAGs
    split into old/new edge sets, old_closure ∪ delta must equal the
    full re-closure, the delta must be disjoint from the old closure,
    and an empty new-edge batch yields an empty delta."""
    import random

    from parquet_on_fhir_spark.fhir.terminology import (
        closure_delta,
        concept_closure,
    )

    rng = random.Random(42)

    def df(pairs):
        return spark.createDataFrame(
            [("s", f"c{a}", f"c{b}") for a, b in pairs],
            "system string, parent string, child string",
        )

    for _ in range(3):
        n = 30
        edges = set()
        for child in range(1, n):
            for p in rng.sample(range(child), min(child, rng.randint(1, 2))):
                edges.add((p, child))
        edges = sorted(edges)
        new = rng.sample(edges, len(edges) // 3)
        old = [e for e in edges if e not in set(new)]
        old_clo = concept_closure(df(old))
        delta = closure_delta(old_clo, df(new))
        oset = {(r.ancestor, r.descendant) for r in old_clo.collect()}
        dset = {(r.ancestor, r.descendant) for r in delta.collect()}
        full = {
            (r.ancestor, r.descendant)
            for r in concept_closure(df(edges)).collect()
        }
        assert oset | dset == full
        assert not (oset & dset)
    empty = spark.createDataFrame(
        [], "system string, parent string, child string"
    )
    assert closure_delta(concept_closure(df([(0, 1)])), empty).count() == 0


def test_translate_codes_reverse(spark):
    """translate_codes(reverse=True) (r10): element side returned,
    equivalence as stated, unmapped rules do not fire in reverse, and
    codeless targets are unmatched rather than erroring."""
    from parquet_on_fhir_spark.fhir.terminology import translate_codes
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CM_UNMAPPED_DOCS,
        _encode_doc as _encode,
    )

    cm = _encode(spark, _CM_UNMAPPED_DOCS, "ConceptMap")
    facts = spark.createDataFrame(
        [
            (1, "http://example.org/cs/t", "X"),   # reverse of a->x: X<-x
            (2, "http://example.org/cs/t", "Y"),   # reverse of b->y
            (3, "http://example.org/cs/t", "UNK"), # fixed-rule code: NOT
                                                   # an element target ->
                                                   # no reverse match
            (4, "http://example.org/cs/b", "n"),   # source-side system
        ],
        "row_id long, system string, code string",
    )
    out = translate_codes(facts, cm, "system", "code", reverse=True)
    rows = {r.row_id: r for r in out.collect()}
    assert len(rows) == 4  # no duplication, no loss
    assert rows[1].target_code == "x" and rows[1].equivalence == "equal"
    assert rows[2].target_code == "y"
    assert rows[3].target_code is None  # unmapped rules are forward-only
    assert rows[4].target_code is None


def test_valueset_by_reference_composition(spark):
    """expand_valueset r10/r11: include.valueSet intersection semantics,
    union with other includes, exclude.valueSet anti-join, depth-N
    nested references (r11), the mixed-include system∩valueSets
    conjunction (r11), and the cycle guard."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import expand_valueset
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_DOC,
        _VS_REF_DOCS,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_ANATOMY_DOC, "CodeSystem")
    vs = _encode(spark, _VS_REF_DOCS, "ValueSet")
    out = expand_valueset(vs, cs)
    res = {}
    for r in out.collect():
        res.setdefault(r.url, []).append(r.code)
    assert sorted(res["http://example.org/ValueSet/ref3"]) == ["hand", "leg"]
    assert sorted(res["http://example.org/ValueSet/ref4"]) == [
        "foot", "hand", "heart", "leg",
    ]
    assert sorted(res["http://example.org/ValueSet/ref5"]) == [
        "body", "foot", "heart", "limb", "organ",
    ]
    # referenced sets still expand normally themselves
    assert sorted(res["http://example.org/ValueSet/ref1"]) == [
        "arm", "hand", "leg",
    ]

    # nested references resolve to any depth (r11): ref7 → ref3 →
    # {ref1 ∩ ref2}
    nested = _VS_REF_DOCS + [{
        "resourceType": "ValueSet", "id": "vr7", "status": "active",
        "url": "http://example.org/ValueSet/ref7",
        "compose": {"include": [
            {"valueSet": ["http://example.org/ValueSet/ref3"]}]},
    }]
    nres = {}
    for r in expand_valueset(_encode(spark, nested, "ValueSet"), cs).collect():
        nres.setdefault(r.url, []).append(r.code)
    assert sorted(nres["http://example.org/ValueSet/ref7"]) == ["hand", "leg"]

    # mixing valueSet with system in one include applies the spec's
    # conjunction (r11): whole-anatomy ∩ ref1
    mixed = [{
        "resourceType": "ValueSet", "id": "vm", "status": "active",
        "url": "http://example.org/ValueSet/mixed",
        "compose": {"include": [
            {"system": "http://example.org/cs/anatomy",
             "valueSet": ["http://example.org/ValueSet/ref1"]}]},
    }] + _VS_REF_DOCS[:1]
    mres = {}
    for r in expand_valueset(_encode(spark, mixed, "ValueSet"), cs).collect():
        mres.setdefault(r.url, []).append(r.code)
    assert sorted(mres["http://example.org/ValueSet/mixed"]) == [
        "arm", "hand", "leg",
    ]

    # circular references raise (FHIR forbids them; the guard names
    # the cycle instead of deadlocking depth-N resolution)
    cyc = [
        {"resourceType": "ValueSet", "id": "ca", "status": "active",
         "url": "http://example.org/ValueSet/ca",
         "compose": {"include": [
             {"valueSet": ["http://example.org/ValueSet/cb"]}]}},
        {"resourceType": "ValueSet", "id": "cb", "status": "active",
         "url": "http://example.org/ValueSet/cb",
         "compose": {"include": [
             {"valueSet": ["http://example.org/ValueSet/ca"]}]}},
    ]
    with pytest.raises(ValueError, match="circular"):
        expand_valueset(_encode(spark, cyc, "ValueSet"), cs).collect()
    selfref = [{
        "resourceType": "ValueSet", "id": "cs1", "status": "active",
        "url": "http://example.org/ValueSet/cself",
        "compose": {
            "include": [
                {"system": "http://example.org/cs/anatomy",
                 "concept": [{"code": "arm"}]}],
            "exclude": [
                {"valueSet": ["http://example.org/ValueSet/cself"]}],
        },
    }]
    with pytest.raises(ValueError, match="circular"):
        expand_valueset(_encode(spark, selfref, "ValueSet"), cs).collect()


def test_valueset_absent_reference_is_empty_intersection(spark):
    """r12 pinned (ADVICE): an include whose valueSet references all
    point at urls ABSENT from the table intersects to EMPTY — it must
    never fall back to the whole-system / listed-concept selection
    (previously withref_keys was only built when ref_exp was non-None,
    so a stratum with no resolvable references routed its
    reference-bearing includes as if they had no references at all)."""
    from parquet_on_fhir_spark.fhir.terminology import expand_valueset
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_DOC,
        _VS_REF_DOCS,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_ANATOMY_DOC, "CodeSystem")
    absent = "http://example.org/ValueSet/absent"

    def expand(docs):
        res = {}
        for r in expand_valueset(_encode(spark, docs, "ValueSet"), cs).collect():
            res.setdefault(r.url, set()).add(r.code)
        return res

    # system + absent ref: whole-system ∩ ∅ = ∅ (not the whole system)
    mixed_sys = [{
        "resourceType": "ValueSet", "id": "va1", "status": "active",
        "url": "http://example.org/ValueSet/va1",
        "compose": {"include": [
            {"system": "http://example.org/cs/anatomy",
             "valueSet": [absent]}]},
    }]
    assert expand(mixed_sys).get("http://example.org/ValueSet/va1", set()) == set()

    # listed concepts + absent ref: concepts ∩ ∅ = ∅
    mixed_concept = [{
        "resourceType": "ValueSet", "id": "va2", "status": "active",
        "url": "http://example.org/ValueSet/va2",
        "compose": {"include": [
            {"system": "http://example.org/cs/anatomy",
             "concept": [{"code": "arm"}, {"code": "leg"}],
             "valueSet": [absent]}]},
    }]
    assert expand(mixed_concept).get("http://example.org/ValueSet/va2", set()) == set()

    # pure absent ref contributes nothing; a sibling include still does
    union_ok = [{
        "resourceType": "ValueSet", "id": "va3", "status": "active",
        "url": "http://example.org/ValueSet/va3",
        "compose": {"include": [
            {"valueSet": [absent]},
            {"system": "http://example.org/cs/anatomy",
             "concept": [{"code": "heart"}]}]},
    }]
    assert expand(union_ok)["http://example.org/ValueSet/va3"] == {"heart"}

    # one resolvable + one absent ref in the SAME include: the
    # intersection still requires EVERY reference to contain the code
    half = _VS_REF_DOCS[:1] + [{
        "resourceType": "ValueSet", "id": "va4", "status": "active",
        "url": "http://example.org/ValueSet/va4",
        "compose": {"include": [
            {"valueSet": ["http://example.org/ValueSet/ref1", absent]}]},
    }]
    got = expand(half)
    assert got.get("http://example.org/ValueSet/va4", set()) == set()
    # the resolvable sibling set still expands on its own
    assert got["http://example.org/ValueSet/ref1"] == {"arm", "hand", "leg"}


def test_expand_operation_paging(spark):
    """r12 pinned ($expand paging, R4 valueset-operation-expand):
    count=0 is the total-probe (zero concept rows), offset past the
    end is empty, the url parameter slices one ValueSet, text_filter
    matches display too, and negative paging raises."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
        expand_operation,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_MEDS_DOC,
        _encode_doc as _encode,
    )

    docs = [
        {"resourceType": "ValueSet", "id": f"vs-pg{i}", "status": "active",
         "url": f"http://example.org/ValueSet/pg{i}",
         "compose": {"include": [
             {"system": "http://example.org/cs/meds"}]}}
        for i in (1, 2)
    ]
    vs = _encode(spark, docs, "ValueSet")
    cs = _encode(spark, _CS_MEDS_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))

    # count=0: the spec's "just give me total" probe — zero rows
    assert expand_operation(vs, cs, clo, count=0).count() == 0
    # offset past the end
    assert expand_operation(vs, cs, clo, offset=100).count() == 0
    # url parameter slices one ValueSet; rn restarts per url without it
    one = expand_operation(
        vs, cs, clo, url="http://example.org/ValueSet/pg2", count=2
    ).collect()
    assert [(r.code, r.rn, r.total) for r in one] == [
        ("amoxicillin-250", 0, 9), ("amoxicillin-500", 1, 9),
    ]
    both = expand_operation(vs, cs, clo, count=1).collect()
    assert sorted((r.url, r.rn) for r in both) == [
        ("http://example.org/ValueSet/pg1", 0),
        ("http://example.org/ValueSet/pg2", 0),
    ]
    # text_filter matches DISPLAY as well as code ('Drug')
    disp = expand_operation(
        vs, cs, clo, url="http://example.org/ValueSet/pg1",
        text_filter="dru",
    ).collect()
    assert sorted(r.code for r in disp) == ["drug"]
    assert all(r.total == 1 for r in disp)
    with pytest.raises(ValueError, match="non-negative"):
        expand_operation(vs, cs, clo, offset=-1)
    with pytest.raises(ValueError, match="non-negative"):
        expand_operation(vs, cs, clo, count=-2)


def test_lookup_codes_batch(spark):
    """lookup_codes (r10 batch $lookup): property multiplication,
    propertyless concepts keep one NULL-prop row, unknown codes and
    foreign systems come back found=false exactly once."""
    from parquet_on_fhir_spark.fhir.terminology import lookup_codes
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_FINDINGS2_DOC,
        _encode_doc as _encode,
    )

    cs = _encode(spark, _CS_FINDINGS2_DOC, "CodeSystem")
    facts = spark.createDataFrame(
        [
            (1, "http://example.org/cs/findings2", "multi-trauma"),
            (2, "http://example.org/cs/findings2", "limb"),
            (3, "http://example.org/cs/findings2", "nope"),
        ],
        "row_id long, system string, code string",
    )
    rows = lookup_codes(facts, cs, "system", "code").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.row_id, []).append(r)
    assert len(by_id[1]) == 3  # two site assertions + severity
    assert {(r.prop, r.pval) for r in by_id[1]} == {
        ("site", "arm"), ("site", "leg"), ("severity", "high"),
    }
    assert all(r.found and r.display == "Multiple trauma" for r in by_id[1])
    assert len(by_id[2]) == 1 and by_id[2][0].found
    assert by_id[2][0].prop is None  # propertyless concept: one row
    assert len(by_id[3]) == 1 and by_id[3][0].found is False
    assert by_id[3][0].display is None


def test_lookup_and_delta_sparse_and_multisystem(spark):
    """Sparse-schema + multi-system robustness: lookup against a
    CodeSystem with NO display and NO properties returns found rows
    with NULL payloads; closure_delta keeps systems separate."""
    from parquet_on_fhir_spark.fhir.terminology import (
        closure_delta,
        concept_closure,
        lookup_codes,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _encode_doc as _encode,
    )

    bare = {"resourceType": "CodeSystem", "id": "b", "status": "active",
            "url": "http://x/bare", "content": "complete",
            "concept": [{"code": "k1"}, {"code": "k2"}]}
    cs = _encode(spark, bare, "CodeSystem")
    facts = spark.createDataFrame(
        [(1, "http://x/bare", "k1"), (2, "http://x/bare", "zz")],
        "row_id long, system string, code string",
    )
    rows = {r.row_id: r for r in lookup_codes(facts, cs, "system", "code").collect()}
    assert rows[1].found and rows[1].display is None and rows[1].prop is None
    assert rows[2].found is False

    def edges(pairs):
        return spark.createDataFrame(
            pairs, "system string, parent string, child string"
        )

    old = concept_closure(edges([("s1", "a", "b"), ("s2", "a", "b")]))
    # new edge b->c ONLY in s1: s2 must not gain (a, c)
    delta = closure_delta(old, edges([("s1", "b", "c")]))
    got = {(r.system, r.ancestor, r.descendant) for r in delta.collect()}
    assert got == {("s1", "b", "c"), ("s1", "a", "c")}


def test_expand_operation_designations(spark):
    """r12 wave-2 pinned ($expand displayLanguage/includeDesignations):
    depth-2 designations collected, substitution + min-per-language
    determinism, unknown-language fallthrough, designation fan-out
    AFTER paging (rn/total count concepts), and the codesystems=None
    refusal."""
    import pytest

    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_designations,
        concept_edges,
        expand_operation,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_I18N_DOC,
        _encode_doc as _encode,
    )

    vs_doc = {
        "resourceType": "ValueSet", "id": "vs-ds", "status": "active",
        "url": "http://example.org/ValueSet/ds",
        "compose": {"include": [
            {"system": "http://example.org/cs/findings-i18n"}]},
    }
    vs = _encode(spark, vs_doc, "ValueSet")
    cs = _encode(spark, _CS_I18N_DOC, "CodeSystem")
    clo = concept_closure(concept_edges(cs))

    # the walk collects every depth: headache's designation is nested
    des = {
        (r.code, r.language): r.value
        for r in concept_designations(cs).collect()
    }
    assert des[("headache", "de")] == "Kopfschmerz"
    assert des[("pain", "fr")] == "Douleur"
    assert len(des) == 4  # (fever,de) deduped to one KEY but two rows
    assert concept_designations(cs).count() == 5

    # min-per-language determinism: fever carries Fieber AND Pyrexie
    de = {
        r.code: r.display
        for r in expand_operation(
            vs, cs, clo, display_language="de"
        ).collect()
    }
    assert de["fever"] == "Fieber"
    assert de["backpain"] == "Back pain"  # no designation -> default

    # includeDesignations fans out AFTER paging: page of 1 concept
    # (pain) comes back with BOTH its designations, total still 5
    page = expand_operation(
        vs, cs, clo, offset=4, count=1, include_designations=True
    ).collect()
    assert sorted((r.code, r.d_language, r.d_value, r.rn, r.total)
                  for r in page) == [
        ("pain", "de", "Schmerz", 4, 5),
        ("pain", "fr", "Douleur", 4, 5),
    ]

    with pytest.raises(ValueError, match="codesystems"):
        expand_operation(vs, None, clo, display_language="de")


def test_expand_versioned_pinning(spark):
    """r12 wave-2 pinned (canonical url|version): 10.0 outranks 9.0
    under the numeric-aware latest order; pinned system versions
    report the canonical system|v form; missing pinned versions
    expand EMPTY; single-version tables pass through unchanged."""
    from parquet_on_fhir_spark.fhir.terminology import expand_versioned
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _encode_doc as _encode,
    )

    cs_url = "http://example.org/cs/two-digit"
    cs_docs = [
        {"resourceType": "CodeSystem", "id": "c9", "status": "active",
         "content": "complete", "url": cs_url, "version": "9.0",
         "concept": [{"code": "old", "display": "Old"}]},
        {"resourceType": "CodeSystem", "id": "c10", "status": "active",
         "content": "complete", "url": cs_url, "version": "10.0",
         "concept": [{"code": "new", "display": "New"}]},
    ]
    vs_docs = [
        {"resourceType": "ValueSet", "id": "w1", "status": "active",
         "url": "http://example.org/ValueSet/w-latest",
         "compose": {"include": [{"system": cs_url}]}},
        {"resourceType": "ValueSet", "id": "w2", "status": "active",
         "url": "http://example.org/ValueSet/w-pin9",
         "compose": {"include": [{"system": cs_url, "version": "9.0"}]}},
        {"resourceType": "ValueSet", "id": "w3", "status": "active",
         "url": "http://example.org/ValueSet/w-missing",
         "compose": {"include": [{"system": cs_url, "version": "3.3"}]}},
    ]
    got = {}
    for r in expand_versioned(
        _encode(spark, vs_docs, "ValueSet"),
        _encode(spark, cs_docs, "CodeSystem"),
    ).collect():
        got.setdefault(r["url"].rsplit("/", 1)[-1], set()).add(
            (r["system"], r["code"])
        )
    # 10.0 beats 9.0 numerically (string order would invert this)
    assert got["w-latest"] == {(cs_url, "new")}
    assert got["w-pin9"] == {(cs_url + "|9.0", "old")}
    assert "w-missing" not in got


def test_expand_active_only_conventions(spark):
    """activeOnly drops `inactive`-property and retired/deprecated
    `status` concepts (incl. nested children) but NOT status=active;
    without codesystems the parameter refuses."""
    import pytest
    from pyspark.sql import functions as F

    from parquet_on_fhir_spark.fhir.terminology import expand_operation
    from parquet_on_fhir_spark.suite.fhir_queries import _encode_doc

    cs_doc = {
        "resourceType": "CodeSystem", "id": "c", "status": "active",
        "url": "http://x/cs", "content": "complete",
        "concept": [
            {"code": "a"},
            {"code": "b", "property": [
                {"code": "inactive", "valueBoolean": True}]},
            {"code": "c", "property": [
                {"code": "status", "valueCode": "retired"}]},
            {"code": "d", "property": [
                {"code": "status", "valueCode": "active"}]},
            {"code": "e", "concept": [
                {"code": "e1", "property": [
                    {"code": "status", "valueCode": "deprecated"}]},
                {"code": "e2", "property": [
                    {"code": "inactive", "valueBoolean": False}]}]},
        ],
    }
    vs_doc = {
        "resourceType": "ValueSet", "id": "v", "status": "active",
        "url": "http://x/vs",
        "compose": {"include": [{"system": "http://x/cs"}]},
    }
    cs = _encode_doc(spark, cs_doc, "CodeSystem")
    vs = _encode_doc(spark, vs_doc, "ValueSet")
    active = {
        r["code"]
        for r in expand_operation(vs, cs, active_only=True).collect()
    }
    assert active == {"a", "d", "e", "e2"}
    full = {r["code"] for r in expand_operation(vs, cs).collect()}
    assert full == {"a", "b", "c", "d", "e", "e1", "e2"}
    with pytest.raises(ValueError, match="active_only"):
        expand_operation(vs, None, active_only=True)
