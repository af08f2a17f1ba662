"""SQL-on-FHIR v2 ViewDefinition runner (fhir/views.py) — semantics per
hl7.org/fhir/uv/sql-on-fhir; golden inputs are the reference's example
files plus pinned synthetic docs."""

import json

import pytest
from pyspark.sql import types as T

from parquet_on_fhir_spark.fhir.encode import encode_ndjson
from parquet_on_fhir_spark.fhir.views import ViewPathError, run_view

PATIENT = "/root/reference/examples/Patient.parquet"
OBSERVATION = "/root/reference/examples/Observation.parquet"


def _encode(tmp_path_factory, spark, docs, rtype, **kw):
    d = str(tmp_path_factory.mktemp("views"))
    with open(f"{d}/r.ndjson", "w") as f:
        for doc in docs:
            f.write(json.dumps(doc) + "\n")
    return encode_ndjson(spark, d, resource_type=rtype, **kw)


def test_basic_columns_and_resource_key(spark):
    p = spark.read.parquet(PATIENT)
    out = run_view(p, {
        "resource": "Patient",
        "select": [{"column": [
            {"name": "patient_id", "path": "getResourceKey()"},
            {"name": "gender", "path": "gender"},
        ]}],
    })
    assert out.columns == ["patient_id", "gender"]
    assert out.count() == 100
    assert out.filter("patient_id IS NULL").count() == 0


def test_for_each_explodes_and_drops_empty(spark, tmp_path_factory):
    docs = [
        {"resourceType": "Patient", "id": "a",
         "name": [{"family": "X"}, {"family": "Y"}]},
        {"resourceType": "Patient", "id": "b"},  # no name
    ]
    df = _encode(tmp_path_factory, spark, docs, "Patient")
    view = {"resource": "Patient", "select": [
        {"column": [{"name": "pid", "path": "id"}]},
        {"forEach": "name", "column": [{"name": "family", "path": "family"}]},
    ]}
    got = {(r.pid, r.family) for r in run_view(df, view).collect()}
    assert got == {("a", "X"), ("a", "Y")}  # forEach drops patient b
    view2 = {"resource": "Patient", "select": [
        {"column": [{"name": "pid", "path": "id"}]},
        {"forEachOrNull": "name",
         "column": [{"name": "family", "path": "family"}]},
    ]}
    got2 = {(r.pid, r.family) for r in run_view(df, view2).collect()}
    assert got2 == {("a", "X"), ("a", "Y"), ("b", None)}


def test_where_in_path_and_view_level(spark):
    p = spark.read.parquet(PATIENT)
    out = run_view(p, {
        "resource": "Patient",
        "where": [{"path": "gender = 'female'"}],
        "select": [
            {"column": [{"name": "pid", "path": "id"}]},
            {"forEach": "identifier.where(system = 'http://hl7.org/fhir/sid/us-ssn')",
             "column": [{"name": "ssn", "path": "value"}]},
        ],
    }).collect()
    assert len(out) > 0
    assert all(r.ssn is not None for r in out)
    females = p.filter("gender = 'female'").count()
    assert len(out) == females  # exactly one SSN each


def test_of_type_choice_and_reference_key(spark):
    o = spark.read.parquet(OBSERVATION)
    out = run_view(o, {
        "resource": "Observation",
        "select": [{"column": [
            {"name": "obs_id", "path": "getResourceKey()"},
            {"name": "patient_id", "path": "subject.getReferenceKey(Patient)"},
            {"name": "qty_value", "path": "value.ofType(Quantity).value"},
            {"name": "code1", "path": "code.coding.first().code"},
        ]}],
    })
    rows = out.collect()
    assert len(rows) == 100
    # golden subject references are 'Patient/<uuid>' → key extracted
    assert all(r.patient_id is not None and "/" not in r.patient_id for r in rows)
    assert any(r.qty_value is not None for r in rows)
    # wrong-type filter nulls out
    bad = run_view(o, {"resource": "Observation", "select": [{"column": [
        {"name": "k", "path": "subject.getReferenceKey(Device)"}]}]})
    assert bad.filter("k IS NOT NULL").count() == 0


def test_arithmetic_in_paths(spark):
    o = spark.read.parquet(OBSERVATION)
    out = run_view(o, {
        "resource": "Observation",
        "select": [{"column": [
            {"name": "obs_id", "path": "getResourceKey()"},
            {"name": "raw", "path": "value.ofType(Quantity).value"},
            # precedence: * binds tighter than +
            {"name": "shifted", "path": "value.ofType(Quantity).value * 2 + 1"},
            # parens override; string-typed FHIR decimal casts to double
            {"name": "scaled", "path": "(value.ofType(Quantity).value + 1) / 2"},
        ]}],
    })
    rows = [r for r in out.collect() if r.raw is not None]
    assert rows
    for r in rows:
        assert abs(r.shifted - (float(r.raw) * 2 + 1)) < 1e-9
        assert abs(r.scaled - ((float(r.raw) + 1) / 2)) < 1e-9
    # arithmetic inside a view-level where comparison
    hot = run_view(o, {
        "resource": "Observation",
        "where": [{"path": "value.ofType(Quantity).value * 2 > 100"}],
        "select": [{"column": [{"name": "v", "path": "value.ofType(Quantity).value"}]}],
    }).collect()
    assert all(float(r.v) * 2 > 100 for r in hot)
    # collections must be rejected, not silently aggregated
    import pytest as _pytest

    from parquet_on_fhir_spark.fhir.views import ViewPathError

    with _pytest.raises(ViewPathError):
        run_view(o, {"resource": "Observation", "select": [{"column": [
            {"name": "bad", "path": "category.coding.code + 1"}]}]})


def test_exists_empty_count_first(spark, tmp_path_factory):
    docs = [
        {"resourceType": "Patient", "id": "a",
         "name": [{"given": ["J", "K"]}], "active": True},
        {"resourceType": "Patient", "id": "b", "active": False},
    ]
    df = _encode(tmp_path_factory, spark, docs, "Patient")
    out = {r.pid: r for r in run_view(df, {
        "resource": "Patient",
        "select": [{"column": [
            {"name": "pid", "path": "id"},
            {"name": "has_name", "path": "name.exists()"},
            {"name": "no_name", "path": "name.empty()"},
            {"name": "n_given", "path": "name.given.count()"},
            {"name": "g1", "path": "name.first().given.first()"},
        ]}],
    }).collect()}
    a, b = out["a"], out["b"]
    assert (a.has_name, a.no_name, a.n_given, a.g1) == (True, False, 2, "J")
    assert (b.has_name, b.no_name, b.n_given, b.g1) == (False, True, 0, None)


def test_collection_true_and_singleton_enforcement(spark):
    p = spark.read.parquet(PATIENT)
    out = run_view(p, {"resource": "Patient", "select": [{"column": [
        {"name": "families", "path": "name.family", "collection": True}]}]})
    assert isinstance(out.schema["families"].dataType, T.ArrayType)
    with pytest.raises(ViewPathError, match="collection"):
        run_view(p, {"resource": "Patient", "select": [{"column": [
            {"name": "families", "path": "name.family"}]}]})


def test_extension_function(spark):
    p = spark.read.parquet(PATIENT)
    # golden Synthea patients carry us-core-birthsex valueCode extensions
    out = run_view(p, {
        "resource": "Patient",
        "select": [{"column": [
            {"name": "pid", "path": "id"},
            {"name": "birthsex",
             "path": "extension('http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex')"
                     ".first().valueCode"},
        ]}],
    })
    assert out.filter("birthsex IS NOT NULL").count() > 0
    assert set(
        r.birthsex for r in out.collect() if r.birthsex
    ) <= {"F", "M", "UNK"}


def test_constants(spark):
    p = spark.read.parquet(PATIENT)
    view = {
        "resource": "Patient",
        "constant": [{"name": "ssn_system",
                      "valueString": "http://hl7.org/fhir/sid/us-ssn"}],
        "select": [{"forEach": "identifier.where(system = %ssn_system)",
                    "column": [{"name": "ssn", "path": "value"}]}],
    }
    assert run_view(p, view).count() == 100


def test_union_all(spark, tmp_path_factory):
    docs = [{"resourceType": "Patient", "id": "a",
             "name": [{"family": "X"}],
             "contact": [{"name": {"family": "C1"}}]}]
    df = _encode(tmp_path_factory, spark, docs, "Patient")
    view = {"resource": "Patient", "select": [
        {"column": [{"name": "pid", "path": "id"}]},
        {"unionAll": [
            {"forEach": "name", "column": [{"name": "family", "path": "family"}]},
            {"forEach": "contact",
             "column": [{"name": "family", "path": "name.family"}]},
        ]},
    ]}
    got = {(r.pid, r.family) for r in run_view(df, view).collect()}
    assert got == {("a", "X"), ("a", "C1")}


def test_boundary_functions_use_annotations(spark, tmp_path_factory):
    docs = [{"resourceType": "Patient", "id": "a", "birthDate": "1970-03"}]
    df = _encode(tmp_path_factory, spark, docs, "Patient")  # annotations=True default
    out = run_view(df, {"resource": "Patient", "select": [{"column": [
        {"name": "lo", "path": "birthDate.lowBoundary()"},
        {"name": "hi", "path": "birthDate.highBoundary()"},
    ]}]}).collect()[0]
    assert str(out.lo).startswith("1970-03-01")
    assert str(out.hi).startswith("1970-03-31")
    # without annotations the path errors at compile time, not silently
    df2 = _encode(tmp_path_factory, spark, docs, "Patient", annotations=False)
    with pytest.raises(ViewPathError, match="__birthDate_start"):
        run_view(df2, {"resource": "Patient", "select": [{"column": [
            {"name": "lo", "path": "birthDate.lowBoundary()"}]}]})


def test_unsupported_path_raises(spark):
    p = spark.read.parquet(PATIENT)
    with pytest.raises(ViewPathError, match="unsupported FHIRPath function"):
        run_view(p, {"resource": "Patient", "select": [{"column": [
            {"name": "x", "path": "name.repeat(given)"}]}]})
    with pytest.raises(ViewPathError, match="not in schema"):
        run_view(p, {"resource": "Patient", "select": [{"column": [
            {"name": "x", "path": "nosuchfield"}]}]})


def test_nested_select_and_plan_shape(spark):
    p = spark.read.parquet(PATIENT)
    view = {"resource": "Patient", "select": [
        {"column": [{"name": "pid", "path": "id"}]},
        {"forEach": "name",
         "column": [{"name": "use", "path": "use"}],
         "select": [{"forEach": "given",
                     "column": [{"name": "given_name", "path": "$this"}]}]},
    ]}
    out = run_view(p, view)
    assert out.columns == ["pid", "use", "given_name"]
    assert out.count() > 100  # names × given fan-out
    # map-only: generators + project, no shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_boolean_combinators_in_where(spark):
    p = spark.read.parquet(PATIENT)
    both = run_view(p, {
        "resource": "Patient",
        "where": [{"path": "gender = 'female' or gender = 'male'"}],
        "select": [{"column": [{"name": "pid", "path": "id"}]}],
    }).count()
    assert both == 100
    combo = run_view(p, {
        "resource": "Patient",
        "where": [{"path": "gender = 'female' and name.exists()"}],
        "select": [{"column": [{"name": "pid", "path": "id"}]}],
    }).count()
    females = p.filter("gender = 'female'").count()
    assert 0 < combo <= females
    neg = run_view(p, {
        "resource": "Patient",
        "where": [{"path": "not (gender = 'female' or gender = 'male')"}],
        "select": [{"column": [{"name": "pid", "path": "id"}]}],
    }).count()
    assert neg == 0
    # combinators inside where() element predicates too
    ssn = run_view(p, {
        "resource": "Patient",
        "select": [{"forEach":
                    "identifier.where(system = 'http://hl7.org/fhir/sid/us-ssn'"
                    " and value.exists())",
                    "column": [{"name": "ssn", "path": "value"}]}],
    }).count()
    assert ssn == 100


def test_repeat_unrolls_nested_items(spark):
    """forEach: repeat(item) unions every nesting depth the schema
    holds — the QuestionnaireResponse flattening pattern."""
    from pyspark.sql import Row

    rows = [
        Row(resourceType="QuestionnaireResponse", id="r1",
            item=[Row(linkId="1", text="root-a",
                      item=[Row(linkId="1.1", text="mid",
                                item=[Row(linkId="1.1.1", text="leaf")])]),
                  Row(linkId="2", text="root-b", item=None)]),
        Row(resourceType="QuestionnaireResponse", id="r2",
            item=[Row(linkId="9", text="only",
                      item=None)]),
    ]
    df = spark.createDataFrame(rows)
    out = run_view(df, {
        "resource": "QuestionnaireResponse",
        "select": [
            {"column": [{"name": "rid", "path": "getResourceKey()"}]},
            {"forEach": "repeat(item)",
             "column": [{"name": "linkId", "path": "linkId"},
                        {"name": "text", "path": "text"}]},
        ],
    }).collect()
    got = {(r.rid, r.linkId, r.text) for r in out}
    assert got == {
        ("r1", "1", "root-a"), ("r1", "2", "root-b"),
        ("r1", "1.1", "mid"), ("r1", "1.1.1", "leaf"),
        ("r2", "9", "only"),
    }


def test_to_integer_to_string_casts(spark):
    o = spark.read.parquet(OBSERVATION)
    out = run_view(o, {
        "resource": "Observation",
        "select": [{"column": [
            {"name": "v_str", "path": "value.ofType(Quantity).value.toString()"},
            {"name": "v_dec", "path": "value.ofType(Quantity).value.toDecimal()"},
            {"name": "status_int", "path": "status.toInteger()"},  # non-numeric -> null
        ]}],
    })
    rows = [r for r in out.collect() if r.v_str is not None]
    assert rows
    for r in rows:
        assert isinstance(r.v_dec, float) and abs(r.v_dec - float(r.v_str)) < 1e-9
        assert r.status_int is None  # try_cast of 'final' etc.
