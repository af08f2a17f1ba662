"""Result digests and the checkers that compare them with expected answers.

Every op ends in one Spark action that reads all of its output columns
(``digest``); the checkers below are pure Python so the tests can feed
them a result with one row changed.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the repo's oracle sweep hashes result tables this way
from tools.selfcheck import table_hash


def digest(df: DataFrame, key: str = "id") -> dict:
    """One action over every column: row count, an order-free hash of
    all columns, and the sorted ``key`` values."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).bitwiseAND(0xFFFFFFFF)).alias("h"),
        F.sort_array(F.collect_list(key)).alias("keys"),
    ).first()
    return {"n": row["n"], "h": row["h"] or 0, "keys": list(row["keys"])}


def check_digest(got: dict, want_keys: list[str], seen_hash: dict, op: str) -> str | None:
    """None when ``got`` holds exactly ``want_keys`` and its column hash
    matches the one this op produced before; else the reason."""
    if got["n"] != len(want_keys) or got["keys"] != want_keys:
        return f"{op}: {got['n']} rows, expected {len(want_keys)}"
    first = seen_hash.setdefault(op, got["h"])
    if got["h"] != first:
        return f"{op}: column hash changed between passes"
    return None


def check_rows(got: list[list], want: list[list], op: str) -> str | None:
    if sorted(got) != want:
        return f"{op}: result differs from the expected rows"
    return None


def check_table(cols: list[str], rows, want: dict, op: str) -> str | None:
    if len(rows) != want["rows"]:
        return f"{op}: {len(rows)} rows, expected {want['rows']}"
    if table_hash(cols, rows) != want["hash"]:
        return f"{op}: value hash differs from the oracle"
    return None


def canonical(resource: dict) -> str:
    """Key-order-free form of one FHIR resource."""
    return json.dumps(resource, ensure_ascii=False, sort_keys=True, separators=(",", ":"))


def resources_hash(resources) -> str:
    """Order-free hash of a resource set, keys sorted inside each one."""
    h = hashlib.sha256()
    for line in sorted(canonical(r) for r in resources):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_lossless(exported_lines, want_hash: str, op: str) -> str | None:
    """Exported NDJSON equals the generated resources, ignoring key
    order (``want_hash`` is ``resources_hash`` of the generated set)."""
    if resources_hash(json.loads(line) for line in exported_lines) != want_hash:
        return f"{op}: exported NDJSON differs from the generated resources"
    return None
