"""CLI end-to-end: encode -> validate -> decode -> re-encode equality."""

import pytest
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "parquet_on_fhir_spark", *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )


@pytest.mark.slow
def test_cli_encode_validate_decode_roundtrip(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli"))
    rows = [
        {"resourceType": "Patient", "id": "p1", "birthDate": "1970-01", "gender": "male"},
        {"resourceType": "Patient", "id": "p2",
         "name": [{"family": "X", "given": ["a"]}]},
    ]
    src = f"{d}/in.ndjson"
    with open(src, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    enc = run_cli("encode", src, f"{d}/table", "--resource-type", "Patient")
    assert enc.returncode == 0, enc.stderr[-2000:]
    assert "encoded 2 resources" in enc.stdout

    val = run_cli("validate", f"{d}/table", "--resource-type", "Patient")
    assert val.returncode == 0, val.stdout + val.stderr[-500:]

    dec = run_cli("decode", f"{d}/table", f"{d}/out_ndjson")
    assert dec.returncode == 0, dec.stderr[-2000:]
    docs = []
    for p in Path(f"{d}/out_ndjson").glob("part-*"):
        for line in p.read_text().splitlines():
            if line.strip():
                docs.append(json.loads(line))
    assert sorted(docs, key=lambda x: x["id"]) == rows


@pytest.mark.slow
def test_cli_view(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_view"))
    rows = [
        {"resourceType": "Patient", "id": "p1", "gender": "male",
         "name": [{"family": "A", "given": ["x"]}, {"family": "B"}]},
        {"resourceType": "Patient", "id": "p2", "gender": "female"},
    ]
    src = f"{d}/in.ndjson"
    with open(src, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    enc = run_cli("encode", src, f"{d}/table", "--resource-type", "Patient")
    assert enc.returncode == 0, enc.stderr[-2000:]

    vd = {"resource": "Patient", "select": [
        {"column": [{"name": "pid", "path": "getResourceKey()"},
                    {"name": "gender", "path": "gender"}]},
        {"forEachOrNull": "name",
         "column": [{"name": "family", "path": "family"}]}]}
    with open(f"{d}/vd.json", "w") as f:
        json.dump(vd, f)
    out = run_cli("view", f"{d}/table", f"{d}/vd.json", "--output", f"{d}/flat")
    assert out.returncode == 0, out.stderr[-2000:]
    assert "3 rows" in out.stdout

    import duckdb

    got = duckdb.sql(
        f"SELECT pid, gender, family FROM read_parquet('{d}/flat/*.parquet') ORDER BY pid, family"
    ).fetchall()
    assert got == [("p1", "male", "A"), ("p1", "male", "B"), ("p2", "female", None)]


@pytest.mark.slow
def test_cli_diff_summary(tmp_path):
    import duckdb  # noqa: F401 - ensures env parity with other CLI tests

    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    code = f"""
import sys; sys.path.insert(0, {str(Path(__file__).resolve().parent.parent)!r})
from parquet_on_fhir_spark.session import get_session
spark = get_session("t"); spark.sparkContext.setLogLevel("ERROR")
spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").write.parquet({old_p!r})
spark.createDataFrame([(2, "b2"), (3, "c")], "id long, s string").write.parquet({new_p!r})
from parquet_on_fhir_spark.__main__ import main
rc = main(["diff", {old_p!r}, {new_p!r}, "--id-cols", "id", "--summary"])
sys.exit(rc)
"""
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "added" in r.stdout and "removed" in r.stdout and "changed" in r.stdout


@pytest.mark.slow
def test_cli_unbundle(tmp_path):
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    bundle = {
        "resourceType": "Bundle", "type": "collection",
        "entry": [
            {"resource": {"resourceType": "Patient", "id": "p1"}},
            {"resource": {"resourceType": "Patient", "id": "p2"}},
            {"resource": {"resourceType": "Condition", "id": "c1",
                           "code": {"text": "HTN"}}},
        ],
    }
    (src / "b.ndjson").write_text(_json.dumps(bundle) + "\n")
    out = tmp_path / "out"
    res = run_cli("unbundle", str(src), str(out))
    assert res.returncode == 0, res.stderr[-2000:]
    counts = _json.loads(res.stdout[res.stdout.index("{"):])
    assert counts == {"Patient": 2, "Condition": 1}
    assert (out / "Patient").exists() and (out / "Condition").exists()


def test_cli_profile_and_dedup(tmp_path, capsys):
    import shutil

    from parquet_on_fhir_spark.__main__ import main
    from parquet_on_fhir_spark.session import get_session

    spark = get_session("cli-test")
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "unique text here")],
        "doc_id bigint, text string",
    ).write.mode("overwrite").parquet(src)

    assert main(["profile", src]) == 0
    out = capsys.readouterr().out
    assert "doc_id" in out and "text" in out

    dst = str(tmp_path / "deduped.parquet")
    assert main(["dedup", src, dst, "--text-col", "text", "--id-col", "doc_id"]) == 0
    kept = spark.read.parquet(dst)
    assert kept.count() == 2  # exact dup collapsed
    assert {r.doc_id for r in kept.select("doc_id").collect()} == {1, 3}
    shutil.rmtree(dst, ignore_errors=True)


def test_cli_validate_code(tmp_path, capsys):
    from parquet_on_fhir_spark.__main__ import main
    from parquet_on_fhir_spark.session import get_session
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _VS_FILTER_DOCS,
        _encode_doc as _encode,
    )

    spark = get_session("cli-test")
    vs_p = str(tmp_path / "vs.parquet")
    cs_p = str(tmp_path / "cs.parquet")
    _encode(spark, _VS_FILTER_DOCS, "ValueSet").write.parquet(vs_p)
    _encode(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem").write.parquet(cs_p)
    facts_p = str(tmp_path / "facts.parquet")
    spark.createDataFrame(
        [("http://example.org/cs/anatomy2", "hand"),
         ("http://example.org/cs/anatomy2", "ghost")],
        "system string, code string",
    ).write.parquet(facts_p)
    out_p = str(tmp_path / "out.parquet")
    assert main([
        "validate-code", facts_p, vs_p,
        "http://example.org/ValueSet/preds",
        "--codesystems", cs_p, "--output", out_p,
    ]) == 0
    got = {r.code: r.in_valueset for r in spark.read.parquet(out_p).collect()}
    assert got == {"hand": True, "ghost": False}


def test_cli_subsumes(tmp_path, capsys):
    from parquet_on_fhir_spark.__main__ import main
    from parquet_on_fhir_spark.session import get_session
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _encode_doc as _encode,
    )

    spark = get_session("cli-test")
    cs_p = str(tmp_path / "cs.parquet")
    _encode(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem").write.parquet(cs_p)
    pairs_p = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(
        [("limb", "hand"), ("hand", "limb"), ("arm", "arm"), ("arm", "leg")],
        "code_a string, code_b string",
    ).write.parquet(pairs_p)
    out_p = str(tmp_path / "out.parquet")
    assert main([
        "subsumes", pairs_p, cs_p, "http://example.org/cs/anatomy2",
        "--output", out_p,
    ]) == 0
    got = {
        (r.code_a, r.code_b): r.outcome
        for r in spark.read.parquet(out_p).collect()
    }
    assert got == {
        ("limb", "hand"): "subsumes",
        ("hand", "limb"): "subsumed-by",
        ("arm", "arm"): "equivalent",
        ("arm", "leg"): "not-subsumed",
    }


def test_cli_lookup_and_closure_delta(tmp_path, capsys):
    """r10 CLI surface: `lookup` (batch $lookup) and `closure-delta`
    (incremental $closure between two CodeSystem versions), plus
    `translate --reverse`."""
    from parquet_on_fhir_spark.__main__ import main
    from parquet_on_fhir_spark.session import get_session
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CM_DOC,
        _CS_CLOSURE_V1_DOC,
        _CS_CLOSURE_V2_DOC,
        _CS_FINDINGS2_DOC,
        _encode_doc as _encode,
    )

    spark = get_session("cli-test")
    cs_p = str(tmp_path / "cs.parquet")
    _encode(spark, _CS_FINDINGS2_DOC, "CodeSystem").write.parquet(cs_p)
    facts_p = str(tmp_path / "facts.parquet")
    spark.createDataFrame(
        [("http://example.org/cs/findings2", "multi-trauma"),
         ("http://example.org/cs/findings2", "nope")],
        "system string, code string",
    ).write.parquet(facts_p)
    out_p = str(tmp_path / "lk.parquet")
    assert main(["lookup", facts_p, cs_p, "--output", out_p]) == 0
    rows = spark.read.parquet(out_p).collect()
    assert sum(1 for r in rows if r.code == "multi-trauma" and r.found) == 3
    assert sum(1 for r in rows if r.code == "nope" and not r.found) == 1

    v1_p = str(tmp_path / "v1.parquet")
    v2_p = str(tmp_path / "v2.parquet")
    _encode(spark, _CS_CLOSURE_V1_DOC, "CodeSystem").write.parquet(v1_p)
    _encode(spark, _CS_CLOSURE_V2_DOC, "CodeSystem").write.parquet(v2_p)
    d_p = str(tmp_path / "delta.parquet")
    assert main(["closure-delta", v1_p, v2_p, "--output", d_p]) == 0
    delta = {
        (r.ancestor, r.descendant)
        for r in spark.read.parquet(d_p).collect()
    }
    assert ("root", "f") in delta and ("b", "e") in delta
    assert len(delta) == 9  # the qf33 fixture delta

    cm_p = str(tmp_path / "cm.parquet")
    _encode(spark, _CM_DOC, "ConceptMap").write.parquet(cm_p)
    rf_p = str(tmp_path / "rfacts.parquet")
    spark.createDataFrame(
        [("http://loinc.org", "8480-6")], "system string, code string"
    ).write.parquet(rf_p)
    ro_p = str(tmp_path / "rev.parquet")
    assert main([
        "translate", rf_p, cm_p, "--reverse", "--output", ro_p,
    ]) == 0
    rev = spark.read.parquet(ro_p).collect()
    assert len(rev) == 1 and rev[0].target_code == "bp-sys"


@pytest.mark.slow
def test_cli_expand_operation_flags(tmp_path_factory):
    """r12 wave 2: the expand subcommand exposes the $expand operation
    parameters (paging/filter/displayLanguage) and --versioned."""
    d = str(tmp_path_factory.mktemp("cli_exp"))
    cs = [{
        "resourceType": "CodeSystem", "id": "c", "status": "active",
        "content": "complete", "url": "http://x/cs", "version": "2.0",
        "concept": [
            {"code": "a", "display": "Alpha",
             "designation": [{"language": "de", "value": "Alpha-DE"}]},
            {"code": "b", "display": "Beta"},
        ],
    }]
    vs = [{
        "resourceType": "ValueSet", "id": "v", "status": "active",
        "url": "http://x/vs",
        "compose": {"include": [{"system": "http://x/cs"}]},
    }]
    with open(f"{d}/cs.ndjson", "w") as f:
        for r in cs:
            f.write(json.dumps(r) + "\n")
    with open(f"{d}/vs.ndjson", "w") as f:
        for r in vs:
            f.write(json.dumps(r) + "\n")
    for rt, src in (("CodeSystem", "cs"), ("ValueSet", "vs")):
        enc = run_cli(
            "encode", f"{d}/{src}.ndjson", f"{d}/{src}",
            "--resource-type", rt,
        )
        assert enc.returncode == 0, enc.stderr[-2000:]

    page = run_cli(
        "expand", f"{d}/vs", "--codesystems", f"{d}/cs",
        "--count", "1", "--display-language", "de",
    )
    assert page.returncode == 0, page.stderr[-2000:]
    assert "Alpha-DE" in page.stdout  # designation substituted
    assert "Beta" not in page.stdout  # paged out by count=1

    ver = run_cli(
        "expand", f"{d}/vs", "--codesystems", f"{d}/cs", "--versioned"
    )
    assert ver.returncode == 0, ver.stderr[-2000:]
    assert "Alpha" in ver.stdout and "Beta" in ver.stdout

    conflict = run_cli(
        "expand", f"{d}/vs", "--codesystems", f"{d}/cs",
        "--versioned", "--count", "1",
    )
    assert conflict.returncode != 0
