"""The benchmark's two workloads.

Each workload builds its inputs in ``setup`` and returns, from ``ops``,
the ops of one pass in order: ``(name, run, check)``. ``run`` does the
timed work and ends in an action that reads every output column;
``check`` compares its result with the expected answer outside the
timer and returns ``None`` or the reason it is wrong.

- ``fhir``: the format's write and read path in one pipeline (schema
  derivation, validation, annotation, the Parquet writer; search with
  annotation rewrite, UCUM quantities, an ``_include`` search, a
  ViewDefinition; NDJSON export). It never reaches ``api.load_table``
  or the operators.
- ``analytics``: headline suite queries over fixed tables, through the
  operator engine. It never reaches the FHIR encoder, decoder or store.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil

from pyspark.sql import functions as F

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_ANALYTICS = os.path.join(HERE, "expected_analytics.json")

PATIENTS = 300
RESOURCE_TYPES = ("Patient", "Observation")

ANALYTICS_OPS = ["q108_dedup_clusters_md5", "q299_webp_vp8_real_decode"]

VIEW = {
    "resourceType": "ViewDefinition",
    "resource": "Observation",
    "select": [
        {
            "column": [
                {"name": "id", "path": "id"},
                {"name": "patient", "path": "subject.reference"},
                {"name": "value", "path": "valueQuantity.value"},
                {"name": "unit", "path": "valueQuantity.code"},
            ]
        },
        {
            "forEach": "code.coding",
            "column": [
                {"name": "system", "path": "system"},
                {"name": "code", "path": "code"},
            ],
        },
    ],
}


def _read_text_dir(path: str) -> list[str]:
    lines: list[str] = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            lines.extend(line for line in fh.read().splitlines() if line)
    return lines


def _bytes(path: str, pattern: str) -> int:
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", pattern), recursive=True)
    )


class Fhir:
    """One FHIR pipeline pass: Patient NDJSON → Parquet-on-FHIR table →
    searches and a ViewDefinition over it and the Observation table →
    NDJSON export of the Patients, checked lossless against the
    generated resources. The Observation table is encoded in ``setup``."""

    name = "fhir"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inp = os.path.join(ctx.root, "fhir_in")
        self.obs = os.path.join(ctx.root, "fhir_obs")
        self.out = os.path.join(ctx.root, "fhir_out")
        self.seen_hash: dict = {}

    def setup(self) -> None:
        from parquet_on_fhir_spark.fhir.encode import encode_ndjson, write_table

        data = gen.generate(self.ctx.seed, PATIENTS)
        shutil.rmtree(self.inp, ignore_errors=True)
        for rt in RESOURCE_TYPES:
            gen.write_ndjson(data[rt], f"{self.inp}/{rt}")
        spark = self.ctx.spark
        write_table(encode_ndjson(spark, f"{self.inp}/Observation", resource_type="Observation"), self.obs)
        self.want = gen.expected_query(data)
        self.want_lossless = checks.resources_hash(data["Patient"])
        self.seen_hash = {}

    def ops(self):
        from parquet_on_fhir_spark.fhir.decode import write_ndjson
        from parquet_on_fhir_spark.fhir.encode import encode_ndjson, write_table
        from parquet_on_fhir_spark.fhir.store import FhirStore
        from parquet_on_fhir_spark.fhir.table import FhirTable
        from parquet_on_fhir_spark.fhir.views import run_view

        spark, out = self.ctx.spark, self.out
        want, seen = self.want, self.seen_hash
        store = {}

        def ingest():
            df = encode_ndjson(spark, f"{self.inp}/Patient", resource_type="Patient")
            write_table(df, f"{out}/Patient")

        def search():
            # opens the tables the rest of the pass shares
            store["s"] = FhirStore(
                {
                    "Patient": FhirTable.read(spark, f"{out}/Patient"),
                    "Observation": FhirTable.read(spark, self.obs),
                }
            )
            return checks.digest(store["s"]["Patient"].search(gen.SEARCH_PARAMS).df)

        def where_quantity():
            return checks.digest(store["s"]["Observation"].where_quantity(*gen.QUANTITY).df)

        def include():
            found = store["s"].search("Observation", gen.INCLUDE_PARAMS)
            return {k: checks.digest(v) for k, v in found.items()}

        def check_include(got):
            if sorted(got) != sorted(want["include"]):
                return f"include: result types {sorted(got)}"
            for rt, d in got.items():
                err = checks.check_digest(d, want["include"][rt], seen, f"include.{rt}")
                if err:
                    return err
            return None

        def view():
            v = run_view(store["s"]["Observation"].df, VIEW)
            agg = v.groupBy("code", "unit").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,3)")).alias("total"),
                F.sum(F.xxhash64(*v.columns).bitwiseAND(0xFFFFFFFF)).alias("h"),
            )
            return [
                [r["code"], r["unit"] or "", r["n"], f"{r['total'] or 0:.3f}", r["h"]]
                for r in agg.collect()
            ]

        def check_view(got):
            err = checks.check_rows([g[:4] for g in got], want["view"], "view")
            if err:
                return err
            h = sum(g[4] for g in got)
            return None if seen.setdefault("view", h) == h else "view: column hash changed"

        def export():
            write_ndjson(spark.read.parquet(f"{out}/Patient"), f"{out}/export")

        def check_export(_):
            return checks.check_lossless(
                _read_text_dir(f"{out}/export"), self.want_lossless, "export"
            )

        def ids(key):
            return lambda got: checks.check_digest(got, want[key], seen, key)

        return [
            ("ingest_patient", ingest, lambda _: None),
            ("search", search, ids("search")),
            ("where_quantity", where_quantity, ids("where_quantity")),
            ("include", include, check_include),
            ("view", view, check_view),
            ("export_patient", export, check_export),
        ]

    def layer_counts(self) -> dict:
        """Parquet bytes written per NDJSON byte read, over both tables
        (exact)."""
        parquet = _bytes(f"{self.out}/Patient", "*.parquet") + _bytes(self.obs, "*.parquet")
        ndjson = sum(_bytes(f"{self.inp}/{rt}", "*.ndjson") for rt in RESOURCE_TYPES)
        return {"fhir.encode.bytes_out_per_byte_in": parquet / ndjson}

    def after_pass(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


class Analytics:
    """Headline suite queries over the fixed sf0.01 tables; the seed only
    fixes the order of the ops within a pass."""

    name = "analytics"

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        from parquet_on_fhir_spark.suite import all_queries

        with open(EXPECTED_ANALYTICS) as fh:
            self.want = json.load(fh)
        self.specs = {q.name: q for q in all_queries() if q.name in ANALYTICS_OPS}
        self.order = list(ANALYTICS_OPS)
        random.Random(self.ctx.seed).shuffle(self.order)

    def ops(self):
        spark, tracer = self.ctx.spark, self.ctx.tracer

        def op(name):
            fn = self.specs[name].fn

            def run():
                with tracer.span("build", "phase"):
                    df = fn(spark, DATA_DIR)
                with tracer.span("action", "phase"):
                    return df.columns, df.collect()

            def check(got):
                return checks.check_table(got[0], got[1], self.want[name], name)

            return name, run, check

        return [op(n) for n in self.order]

    def layer_counts(self) -> dict:
        return {}

    def after_pass(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (Fhir, Analytics)}
