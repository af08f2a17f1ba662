"""Seeded FHIR inputs and their ground truth, in plain Python.

For one seed this module emits Bulk-Export-style NDJSON (Patients and
Observations), the canonical form of every resource (sorted keys) for
the lossless round-trip check, and the expected answer of every query
op of the ``fhir`` workload. Nothing here imports Spark:
the expected answers are computed from the generated records alone, so
a wrong engine result cannot leak into its own reference.

Output is byte-identical for a given seed (``random.Random(seed)`` and
fixed iteration order only).
"""

from __future__ import annotations

import calendar
import json
import os
import random
from datetime import date
from decimal import Decimal

LOINC = "http://loinc.org"
UCUM = "http://unitsofmeasure.org"
FINDINGS_URL = "http://example.org/fhir/CodeSystem/findings"
PRECISION_EXT = "http://example.org/fhir/StructureDefinition/date-precision"

WEIGHT, HEIGHT, SYSTOLIC, FINDING = "29463-7", "8302-2", "8480-6", "75321-0"
_DISPLAY = {
    WEIGHT: "Body weight",
    HEIGHT: "Body height",
    SYSTOLIC: "Systolic blood pressure",
    FINDING: "Clinical finding",
}
_FAMILY = ["Smith", "Nguyen", "Garcia", "Okafor", "Müller", "Kowalski", "Tanaka", "Silva"]
_GIVEN = ["Ann", "Bo", "Chen", "Dara", "Eli", "Femi", "Gus", "Hana", "Ivo", "Jae"]
_CITY = ["Brisbane", "Sydney", "Perth", "Hobart", "Darwin"]

# query parameters: each threshold sits between generated values
# (weights have one decimal; 80.05 kg is never equal to one), so the
# engine's float canonicalisation cannot land on a boundary.
SEARCH_PARAMS = "birthDate=ge1980&gender=female"
QUANTITY = ("valueQuantity", "gt", 80.05, "kg")
INCLUDE_PARAMS = f"code={LOINC}|{SYSTOLIC}&valueQuantity=gt175.5|mm[Hg]&_include=Observation:subject"
FINDING_CODES = [f"f{i}" for i in range(12)]


def _year_month_end(y: int, m: int) -> date:
    return date(y, m, calendar.monthrange(y, m)[1])


def date_bounds(value: str) -> tuple[date, date]:
    """First and last day a (possibly partial) FHIR date covers."""
    parts = [int(p) for p in value.split("-")]
    if len(parts) == 1:
        return date(parts[0], 1, 1), date(parts[0], 12, 31)
    if len(parts) == 2:
        return date(parts[0], parts[1], 1), _year_month_end(parts[0], parts[1])
    d = date(*parts)
    return d, d


def _patient(rng: random.Random, i: int) -> dict:
    y, m, d = rng.randint(1930, 2009), rng.randint(1, 12), rng.randint(1, 28)
    prec = rng.random()
    if prec < 0.2:
        birth = f"{y:04d}"
    elif prec < 0.4:
        birth = f"{y:04d}-{m:02d}"
    else:
        birth = f"{y:04d}-{m:02d}-{d:02d}"
    p = {
        "resourceType": "Patient",
        "id": f"pt{i:06d}",
        "gender": rng.choices(["female", "male", "other", "unknown"], [45, 45, 7, 3])[0],
        "birthDate": birth,
        "name": [
            {
                "use": "official",
                "family": rng.choice(_FAMILY),
                "given": rng.sample(_GIVEN, rng.randint(1, 2)),
            }
        ],
        "address": [
            {
                "line": [f"{rng.randint(1, 400)} Main St"],
                "city": rng.choice(_CITY),
                "postalCode": f"{rng.randint(2000, 7999)}",
                "country": "AU",
            }
        ],
    }
    if len(birth) < 10:
        p["_birthDate"] = {
            "extension": [
                {"url": PRECISION_EXT, "valueCode": "year" if len(birth) == 4 else "month"}
            ]
        }
    if rng.random() < 0.1:
        p["multipleBirthInteger"] = rng.randint(2, 3)
    else:
        p["multipleBirthBoolean"] = False
    return p


def _quantity(rng: random.Random, code: str) -> dict:
    # Mixed UCUM scales for one quantity kind: kg/g, cm/m, mm[Hg].
    if code == WEIGHT:
        kg = Decimal(rng.randint(300, 1300)) / 10
        value, unit = (kg, "kg") if rng.random() < 0.6 else (kg * 1000, "g")
    elif code == HEIGHT:
        cm = rng.randint(1400, 2050) / 10
        value, unit = (
            (Decimal(str(cm)), "cm") if rng.random() < 0.6 else (Decimal(round(cm)) / 100, "m")
        )
    else:
        value, unit = Decimal(rng.randint(85, 190)), "mm[Hg]"
    value = value.normalize() if value == value.to_integral() else value
    num = int(value) if value == value.to_integral() else float(value)
    return {"value": num, "unit": unit, "system": UCUM, "code": unit}


def generate(seed: int, n_patients: int, obs_per_patient: int = 4) -> dict:
    """All inputs for one seed. Observations reference their Patient;
    about one in five carries a ``valueCodeableConcept`` instead of a
    quantity."""
    rng = random.Random(seed)
    patients = [_patient(rng, i) for i in range(n_patients)]
    observations = []
    for p in patients:
        for _ in range(obs_per_patient):
            j = len(observations)
            kind = rng.choices([WEIGHT, HEIGHT, SYSTOLIC, FINDING], [30, 25, 25, 20])[0]
            o = {
                "resourceType": "Observation",
                "id": f"ob{j:07d}",
                "status": "final",
                "code": {"coding": [{"system": LOINC, "code": kind, "display": _DISPLAY[kind]}]},
                "subject": {"reference": f"Patient/{p['id']}"},
                "effectiveDateTime": f"20{rng.randint(10, 23)}-{rng.randint(1, 12):02d}-"
                f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:{rng.choice(['00', '30'])}:00Z",
            }
            if kind == FINDING:
                code = rng.choice(FINDING_CODES)
                o["valueCodeableConcept"] = {
                    "coding": [{"system": FINDINGS_URL, "code": code, "display": f"Finding {code}"}]
                }
            else:
                o["valueQuantity"] = _quantity(rng, kind)
            observations.append(o)
    return {"Patient": patients, "Observation": observations}


def dumps(resource: dict) -> str:
    return json.dumps(resource, ensure_ascii=False, separators=(",", ":"))


def write_ndjson(resources: list[dict], directory: str) -> str:
    """Write ``resources`` to one NDJSON file in ``directory``; returns
    its path."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "part-000.ndjson")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(dumps(r) for r in resources) + "\n")
    return path


# --- ground truth for the query ops ----------------------------------------


def _canon_grams(q: dict) -> Decimal:
    v = Decimal(str(q["value"]))
    return v * 1000 if q["code"] == "kg" else v


def expected_query(data: dict) -> dict:
    """Expected answer of every query op, from the records alone."""
    pats, obs = data["Patient"], data["Observation"]

    def pid(o):
        return o["subject"]["reference"].split("/", 1)[1]

    search = sorted(
        p["id"]
        for p in pats
        if p["gender"] == "female" and date_bounds(p["birthDate"])[1] >= date(1980, 1, 1)
    )
    threshold = Decimal(str(QUANTITY[2])) * 1000
    quantity = sorted(
        o["id"]
        for o in obs
        if o.get("valueQuantity", {}).get("code") in ("kg", "g")
        and _canon_grams(o["valueQuantity"]) > threshold
    )
    inc_obs = [
        o
        for o in obs
        if o["code"]["coding"][0]["code"] == SYSTOLIC and o["valueQuantity"]["value"] > 175.5
    ]
    view: dict[tuple[str, str], tuple] = {}
    for o in obs:
        q = o.get("valueQuantity")
        key = (o["code"]["coding"][0]["code"], q["code"] if q else "")
        n, s = view.get(key, (0, Decimal(0)))
        view[key] = (n + 1, s + (Decimal(str(q["value"])) if q else 0))
    return {
        "search": search,
        "where_quantity": quantity,
        "include": {
            "Observation": sorted(o["id"] for o in inc_obs),
            "Patient": sorted({pid(o) for o in inc_obs}),
        },
        "view": sorted(
            [code, unit, n, f"{s:.3f}"] for (code, unit), (n, s) in view.items()
        ),
    }
