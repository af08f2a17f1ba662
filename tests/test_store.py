"""Multi-resource search (fhir/store.py): chained parameters,
_include/_revinclude over the golden Patient/Observation pair."""

import pytest
from pyspark.sql import functions as F

from parquet_on_fhir_spark.fhir.store import FhirStore
from parquet_on_fhir_spark.fhir.table import FhirTable

PATIENT = "/root/reference/examples/Patient.parquet"
OBSERVATION = "/root/reference/examples/Observation.parquet"


@pytest.fixture(scope="module")
def store(spark):
    return FhirStore({
        "Patient": FhirTable.read(spark, PATIENT),
        "Observation": FhirTable.read(spark, OBSERVATION),
    })


def test_chained_parameter(spark, store):
    """subject:Patient.gender=female — Observations whose subject is a
    female patient, computed as filtered-target semi join."""
    out = store.search("Observation", "subject:Patient.gender=female")
    obs = out["Observation"]
    # oracle: parse the key and check directly
    females = {
        r.id for r in store["Patient"].df.filter("gender = 'female'").collect()
    }
    got_subjects = {
        r[0].split("/")[1] for r in obs.select("subject.reference").collect()
    }
    assert got_subjects and got_subjects <= females
    expected = store["Observation"].df.filter(
        F.split("subject.reference", "/").getItem(1).isin(list(females))
    ).count()
    assert obs.count() == expected
    # semi-join plan, no row duplication
    plan = obs._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_chained_with_plain_params(store):
    out = store.search(
        "Observation", "status=final&subject:Patient.gender=female"
    )
    assert out["Observation"].filter("status != 'final'").count() == 0


def test_include(store):
    out = store.search(
        "Observation", "status=final&_include=Observation:subject:Patient"
    )
    pats = out["Patient"]
    subj = {
        r[0].split("/")[1]
        for r in out["Observation"].select("subject.reference").collect()
    }
    got = {r.id for r in pats.select("id").collect()}
    assert got == subj  # exactly the referenced patients, each once


def test_revinclude(store):
    out = store.search(
        "Patient", "gender=female&_revinclude=Observation:subject"
    )
    obs = out["Observation"]
    females = {r.id for r in out["Patient"].select("id").collect()}
    refs = {
        r[0].split("/")[1] for r in obs.select("subject.reference").collect()
    }
    assert refs and refs <= females


def test_include_bad_element_raises(store):
    with pytest.raises(ValueError, match="not a Reference"):
        store.search("Observation", "_include=Observation:status")
    with pytest.raises(ValueError, match="!= searched type"):
        store.search("Observation", "_include=Patient:subject")


def test_patient_everything_compartment(spark):
    from parquet_on_fhir_spark.fhir.store import FhirStore
    from parquet_on_fhir_spark.fhir.table import FhirTable

    store = FhirStore({
        "Patient": FhirTable.read(spark, "/root/reference/examples/Patient.parquet"),
        "Observation": FhirTable.read(
            spark, "/root/reference/examples/Observation.parquet"
        ),
        "ExplanationOfBenefit": FhirTable.read(
            spark, "/root/reference/examples/ExplanationOfBenefit.parquet"
        ),
    })
    pid = store["Observation"].df.select(
        F.regexp_replace(F.col("subject.reference"), "^Patient/", "")
    ).first()[0]

    frames = store.everything(patient_ids=[pid])
    assert set(frames) >= {"Patient", "Observation"}
    pats = frames["Patient"].select("id", "patient_id").collect()
    assert [p.id for p in pats] == [pid] and pats[0].patient_id == pid
    obs = frames["Observation"].select("patient_id").distinct().collect()
    assert [o.patient_id for o in obs] == [pid]
    # every member row in the unfiltered bulk form belongs to a known patient
    bulk = store.everything()
    n_pat = frames["Patient"].sparkSession.read.parquet(
        "/root/reference/examples/Patient.parquet"
    ).count()
    assert bulk["Patient"].count() == n_pat
    for rtype in ("Observation", "ExplanationOfBenefit"):
        assert bulk[rtype].filter(F.col("patient_id").isNull()).count() == 0


def test_has_reverse_chain_filters_primary(spark):
    from parquet_on_fhir_spark.fhir.store import FhirStore
    from parquet_on_fhir_spark.fhir.table import FhirTable

    store = FhirStore({
        "Patient": FhirTable.read(spark, "/root/reference/examples/Patient.parquet"),
        "Observation": FhirTable.read(
            spark, "/root/reference/examples/Observation.parquet"
        ),
    })
    out = store.search("Patient", "_has:Observation:subject:status=final")
    got = {r.id for r in out["Patient"].select("id").collect()}
    expected = {
        r[0]
        for r in store["Observation"].df.filter(F.col("status") == "final")
        .select(F.regexp_replace(F.col("subject.reference"), "^Patient/", ""))
        .collect()
    }
    assert got == expected and got
    # impossible tail parameter -> empty result, not an error
    none = store.search("Patient", "_has:Observation:subject:status=entered-in-error")
    assert none["Patient"].count() == 0
    # composes with a plain parameter on the primary
    both = store.search(
        "Patient", "gender=female&_has:Observation:subject:status=final"
    )
    females = {r.id for r in both["Patient"].select("id").collect()}
    assert females <= got


def test_has_malformed_key_raises(spark):
    import pytest

    from parquet_on_fhir_spark.fhir.store import FhirStore
    from parquet_on_fhir_spark.fhir.table import FhirTable

    store = FhirStore({
        "Patient": FhirTable.read(spark, "/root/reference/examples/Patient.parquet"),
    })
    with pytest.raises(ValueError, match="_has"):
        store.search("Patient", "_has:Observation:subject=final")


def test_match_patients_links_perturbed_records(spark):
    from parquet_on_fhir_spark.fhir.store import match_patients

    base = spark.createDataFrame(
        [
            ("p1", "female", "1990-01-01", "Garcia"),
            ("p2", "female", "1990-01-01", "Gracia"),  # block-mate, distance 2
            ("p3", "male", "1990-01-01", "Garcia"),    # other block
        ],
        "id string, gender string, birthDate string, family string",
    )
    cands = spark.createDataFrame(
        [
            ("c1", "female", "1990-01-01", "GARCI"),   # truncated+cased p1
            ("c2", "male", "1990-01-01", "Smith"),     # too far from anyone
        ],
        "cand_id string, gender string, birthDate string, family string",
    )
    got = {
        r.cand_id: (r.matched_id, r.distance)
        for r in match_patients(base, cands, ["gender", "birthDate"], "family", 3).collect()
    }
    # c1: garci vs garcia = 1 (best), vs gracia = 3; p3 is blocked out
    assert got == {"c1": ("p1", 1)}


def test_untyped_include_starts_no_job(spark, tmp_path, count_jobs):
    """An ``_include`` without a target type returns a lazy frame for
    every other table: exactly the referenced rows, an empty frame for
    the type nothing references, and ``search`` itself starts no job."""
    import json

    from parquet_on_fhir_spark.fhir.encode import encode_ndjson, write_table

    resources = {
        "Patient": [
            {"resourceType": "Patient", "id": f"p{i}", "gender": "female"}
            for i in range(4)
        ],
        "Practitioner": [
            {"resourceType": "Practitioner", "id": "dr1", "active": True}
        ],
        "Observation": [
            {"resourceType": "Observation", "id": f"o{i}", "status": status,
             "subject": {"reference": f"Patient/p{p}"}}
            for i, (status, p) in enumerate(
                [("final", 0), ("final", 2), ("final", 0), ("amended", 1),
                 ("amended", 3)]
            )
        ],
    }
    for rtype, rows in resources.items():
        src = tmp_path / "ndjson" / rtype
        src.mkdir(parents=True)
        (src / "part.ndjson").write_text(
            "".join(json.dumps(r) + "\n" for r in rows)
        )
        write_table(
            encode_ndjson(spark, str(src), resource_type=rtype),
            str(tmp_path / "tables" / rtype),
        )
    store = FhirStore.read(spark, str(tmp_path / "tables"), list(resources))

    out, jobs = count_jobs(
        lambda: store.search(
            "Observation", "status=final&_include=Observation:subject"
        )
    )
    assert jobs == 0
    ids = {t: sorted(r.id for r in df.select("id").collect()) for t, df in out.items()}
    assert ids == {
        "Observation": ["o0", "o1", "o2"],
        "Patient": ["p0", "p2"],
        "Practitioner": [],
    }
