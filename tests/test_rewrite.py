"""Annotation-aware predicate rewrite: semantics + pushdown evidence."""

import io
import json
import contextlib

from pyspark.sql import functions as F

from parquet_on_fhir_spark.fhir.encode import encode_ndjson
from parquet_on_fhir_spark.fhir.table import FhirTable


def _patients(tmp_path_factory, spark):
    rows = [
        {"resourceType": "Patient", "id": "a", "birthDate": "1959"},
        {"resourceType": "Patient", "id": "b", "birthDate": "1960-05"},
        {"resourceType": "Patient", "id": "c", "birthDate": "1960-05-15"},
        {"resourceType": "Patient", "id": "d", "birthDate": "1975-01-01"},
        {"resourceType": "Patient", "id": "e"},
    ]
    d = str(tmp_path_factory.mktemp("rw"))
    with open(f"{d}/p.ndjson", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return encode_ndjson(spark, f"{d}/p.ndjson", resource_type="Patient")


def _ids(t):
    return sorted(r.id for r in t.df.select("id").collect())


def test_date_predicate_semantics(spark, tmp_path_factory):
    t = FhirTable.from_df(_patients(tmp_path_factory, spark))
    # ge '1960': element interval ends at/after 1960-01-01
    assert _ids(t.where_date("birthDate", "ge", "1960")) == ["b", "c", "d"]
    # lt '1960': starts before 1960
    assert _ids(t.where_date("birthDate", "lt", "1960")) == ["a"]
    # eq '1960-05': contained in May 1960
    assert _ids(t.where_date("birthDate", "eq", "1960-05")) == ["b", "c"]
    # gt '1960-05-15': FHIR range semantics — the month-precision 'b'
    # (1960-05) extends past May 15, so it matches alongside 'd'
    assert _ids(t.where_date("birthDate", "gt", "1960-05-15")) == ["b", "d"]
    # a full-precision date strictly after, and one strictly before, behave classically
    assert _ids(t.where_date("birthDate", "gt", "1960-05-31")) == ["d"]
    # null birthDate never matches
    assert "e" not in _ids(t.where_date("birthDate", "le", "2100"))


def test_decimal_and_quantity_predicates(spark, tmp_path_factory):
    rows = [
        {"resourceType": "Observation", "id": "o1",
         "valueQuantity": {"value": 36.5, "unit": "C", "code": "Cel",
                           "system": "http://unitsofmeasure.org"}},
        {"resourceType": "Observation", "id": "o2",
         "valueQuantity": {"value": 103.1, "unit": "F", "code": "[degF]",
                           "system": "http://unitsofmeasure.org"}},
    ]
    d = str(tmp_path_factory.mktemp("rwq"))
    with open(f"{d}/o.ndjson", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    df = encode_ndjson(spark, f"{d}/o.ndjson", resource_type="Observation")
    t = FhirTable.from_df(df)
    # fever threshold expressed in Fahrenheit matches the Celsius row too
    hot = t.where_quantity("valueQuantity", "gt", 100.4, "[degF]")
    assert _ids(hot) == ["o2"]
    warm = t.where_quantity("valueQuantity", "ge", 36.0, "Cel")
    assert _ids(warm) == ["o1", "o2"]


def test_rewrite_pushes_down_to_parquet_scan(spark, tmp_path_factory):
    df = _patients(tmp_path_factory, spark)
    d = str(tmp_path_factory.mktemp("rwpq"))
    df.write.mode("overwrite").parquet(d)
    t = FhirTable.read(spark, d).where_date("birthDate", "ge", "1960")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        t.df.explain("formatted")
    plan = buf.getvalue()
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "__birthDate_end" in pushed[0], pushed


def test_flatten(spark, tmp_path_factory):
    rows = [
        {"resourceType": "Patient", "id": "p1",
         "name": [{"family": "A"}, {"family": "B"}]},
        {"resourceType": "Patient", "id": "p2", "name": [{"family": "C"}]},
    ]
    d = str(tmp_path_factory.mktemp("rwf"))
    with open(f"{d}/p.ndjson", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    t = FhirTable.from_df(encode_ndjson(spark, f"{d}/p.ndjson", resource_type="Patient"))
    flat = t.flatten("name")
    got = sorted(
        (r.id, r.family) for r in flat.df.select("id", F.col("name.family").alias("family")).collect()
    )
    assert got == [("p1", "A"), ("p1", "B"), ("p2", "C")]


def test_search_string_frontend(spark, tmp_path_factory):
    t = FhirTable.from_df(_patients(tmp_path_factory, spark))
    assert _ids(t.search("birthDate=ge1960")) == ["b", "c", "d"]
    assert _ids(t.search("birthDate=ge1960&birthDate=lt1975")) == ["b", "c"]
    assert _ids(t.search("id=a")) == ["a"]
    assert _ids(t.search("id=nea&birthDate=le2100")) == ["b", "c", "d"]

    rows = [
        {"resourceType": "Observation", "id": "o1",
         "valueQuantity": {"value": 36.5, "unit": "C", "code": "Cel",
                           "system": "http://unitsofmeasure.org"}},
        {"resourceType": "Observation", "id": "o2",
         "valueQuantity": {"value": 103.1, "unit": "F", "code": "[degF]",
                           "system": "http://unitsofmeasure.org"}},
    ]
    d = str(tmp_path_factory.mktemp("search"))
    with open(f"{d}/o.ndjson", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    obs = FhirTable.from_df(encode_ndjson(spark, d, resource_type="Observation"))
    assert _ids(obs.search("valueQuantity=gt100.4|[degF]")) == ["o2"]
