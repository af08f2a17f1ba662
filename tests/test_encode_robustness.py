"""Mixed-resource splitting and corrupt-record quarantine."""

import json

from parquet_on_fhir_spark.fhir.encode import (
    encode_mixed_ndjson,
    encode_ndjson_tolerant,
)


def test_mixed_resource_split(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mixed"))
    rows = [
        {"resourceType": "Patient", "id": "p1", "gender": "male"},
        {"resourceType": "Observation", "id": "o1", "status": "final"},
        {"resourceType": "Patient", "id": "p2", "birthDate": "1980"},
        {"resourceType": "Observation", "id": "o2", "status": "amended"},
        {"resourceType": "Observation", "id": "o3", "status": "final"},
    ]
    with open(f"{d}/mixed.ndjson", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out = str(tmp_path_factory.mktemp("mixed_out"))
    counts = encode_mixed_ndjson(spark, f"{d}/mixed.ndjson", out)
    assert counts == {"Patient": 2, "Observation": 3}

    pat = spark.read.parquet(f"{out}/Patient")
    assert set(pat.columns) >= {"resourceType", "id", "gender"}
    assert "status" not in pat.columns  # sparse per-type schema, not union
    obs = spark.read.parquet(f"{out}/Observation")
    assert sorted(r.id for r in obs.select("id").collect()) == ["o1", "o2", "o3"]
    # annotations computed per table
    assert "__birthDate_start" in pat.columns


def test_corrupt_record_quarantine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corrupt"))
    with open(f"{d}/data.ndjson", "w") as f:
        f.write('{"resourceType":"Patient","id":"p1"}\n')
        f.write('THIS IS NOT JSON AT ALL {{{\n')
        f.write('{"resourceType":"Patient","id":"p2","birthDate":"1970-01-01"}\n')
    good, bad = encode_ndjson_tolerant(spark, d, resource_type="Patient")
    assert sorted(r.id for r in good.select("id").collect()) == ["p1", "p2"]
    bad_rows = [r[0] for r in bad.collect()]
    assert len(bad_rows) == 1 and bad_rows[0].startswith("THIS IS NOT JSON")


def test_mixed_resource_split_uri_path(spark, tmp_path_factory):
    """Partition discovery must go through Spark/Hadoop FS semantics, not
    local-filesystem globbing — a file: URI root (shaped like any object
    store URI) must work end-to-end."""
    d = str(tmp_path_factory.mktemp("mixed_uri"))
    with open(f"{d}/mixed.ndjson", "w") as f:
        f.write('{"resourceType":"Patient","id":"p1"}\n')
        f.write('{"resourceType":"Observation","id":"o1","status":"final"}\n')
    out = str(tmp_path_factory.mktemp("mixed_uri_out"))
    counts = encode_mixed_ndjson(spark, f"file://{d}/mixed.ndjson", f"file://{out}")
    assert counts == {"Patient": 1, "Observation": 1}
    assert spark.read.parquet(f"{out}/Patient").count() == 1
