"""Tests of the benchmark itself.

    python -m pytest perfbench -q                 # generator and checkers
    python -m pytest perfbench -q -m slow         # short real runs (~5 min)
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402


def _files(tmp_path, seed):
    data = gen.generate(seed, 300)
    out = tmp_path / str(seed)
    gen.write_ndjson(data["Patient"], str(out / "Patient"))
    gen.write_ndjson(data["Observation"], str(out / "Observation"))
    return {
        p.relative_to(out).as_posix(): p.read_bytes() for p in sorted(out.rglob("*.ndjson"))
    }, gen.expected_query(data)


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, want_a = _files(tmp_path / "a", 5)
    b, want_b = _files(tmp_path / "b", 5)
    c, _ = _files(tmp_path / "c", 6)
    assert a == b and want_a == want_b
    assert a != c


def test_generator_covers_the_shapes_the_format_must_keep():
    data = gen.generate(3, 400)
    pats, obs = data["Patient"], data["Observation"]
    assert {len(p["birthDate"]) for p in pats} == {4, 7, 10}
    assert any("_birthDate" in p for p in pats)
    assert any("multipleBirthInteger" in p for p in pats)
    assert any("multipleBirthBoolean" in p for p in pats)
    units = {o["valueQuantity"]["code"] for o in obs if "valueQuantity" in o}
    assert units == {"kg", "g", "cm", "m", "mm[Hg]"}
    assert any("valueCodeableConcept" in o for o in obs)
    want = gen.expected_query(data)
    for key in ("search", "where_quantity"):
        assert want[key], key


def _digest(keys):
    return {"n": len(keys), "h": 7, "keys": list(keys)}


def test_fhir_checkers_reject_one_changed_row():
    want = gen.expected_query(gen.generate(4, 300))
    ids = want["search"]
    assert checks.check_digest(_digest(ids), ids, {}, "search") is None
    changed = ids[:-1] + ["pt999999"]
    assert checks.check_digest(_digest(changed), ids, {}, "search")
    seen = {}
    assert checks.check_digest(_digest(ids), ids, seen, "search") is None
    moved = dict(_digest(ids), h=8)  # same ids, one column value changed
    assert checks.check_digest(moved, ids, seen, "search")

    view = copy.deepcopy(want["view"])
    assert checks.check_rows(view, want["view"], "view") is None
    view[0][2] += 1
    assert checks.check_rows(view, want["view"], "view")


def test_lossless_checker_rejects_one_changed_resource():
    data = gen.generate(8, 50)
    want = checks.resources_hash(data["Patient"])
    # exported with another key order: still equal
    lines = [json.dumps(dict(reversed(list(p.items())))) for p in data["Patient"]]
    assert checks.check_lossless(lines, want, "export") is None
    bad = json.loads(lines[3])
    bad["birthDate"] = bad["birthDate"][:4]
    changed = lines[:3] + [json.dumps(bad)] + lines[4:]
    if changed != lines:
        assert checks.check_lossless(changed, want, "export")
    dropped = dict(json.loads(lines[5]))
    dropped.pop("address")
    assert checks.check_lossless(lines[:5] + [json.dumps(dropped)] + lines[6:], want, "export")


def test_analytics_checker_rejects_one_changed_row():
    duckdb = pytest.importorskip("duckdb")
    from workloads import DATA_DIR, EXPECTED_ANALYTICS

    from parquet_on_fhir_spark.suite import all_queries

    name = "q299_webp_vp8_real_decode"
    oracle = {q.name: q.oracle for q in all_queries()}[name]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DATA_DIR}/documents.parquet')")
    odf = con.execute(oracle).df()
    cols = list(odf.columns)
    rows = [list(r) for r in odf.itertuples(index=False, name=None)]
    with open(EXPECTED_ANALYTICS) as fh:
        want = json.load(fh)[name]
    assert checks.check_table(cols, rows, want, name) is None
    rows[0][cols.index("lum_mid")] += 0.0001
    assert checks.check_table(cols, rows, want, name)
    assert checks.check_table(cols, rows[1:], want, name)


def _run(workload, trace, seed=1):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.slow
def test_every_declared_metric_is_reported_and_measured():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    measured: set[str] = set()
    for w in spec["workloads"]:
        e2e = _run(w["name"], 0)
        assert e2e["correct"] and e2e["failed"] == 0
        assert set(e2e["metrics"]) == {m["name"] for m in spec["end_to_end"]}
        assert all(v["value"] > 0 for v in e2e["metrics"].values())
        layer = _run(w["name"], 1)
        assert set(layer["metrics"]) == {m["name"] for m in spec["per_layer"]}
        with open(os.path.join(ROOT, ".perfbench_out", f"layers-{w['name']}-1.json")) as fh:
            passes = json.load(fh)["passes"]
        measured |= {k for p in passes for k in p}
        run_level = ("session.get_session.s", "trace.overhead", "jvm.heap_live_mb")
        measured |= {k for k in run_level if layer["metrics"][k]["value"] > 0}
    missing = {m["name"] for m in spec["per_layer"]} - measured
    assert not missing, sorted(missing)
