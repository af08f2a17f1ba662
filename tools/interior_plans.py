"""Interior plan dumps for the iterative operators (r16 — VERDICT #6):
the FINAL frame of a checkpointed fixpoint explains as an opaque
``Scan ExistingRDD`` stub, so this tool reconstructs and dumps the
PRE-CHECKPOINT round-1 plan of each loop — the plan every round
actually runs — plus the lazy (eager_cleanup=False) form of the crawl
budget, whose eager form checkpoints the evidence away. Output goes to
``plans/r16/<name>_interior.txt``.

    python tools/interior_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from parquet_on_fhir_spark.session import get_session  # noqa: E402

SF = "/root/testdata/sf0.1"
OUT = Path(__file__).resolve().parent.parent / "plans" / "r16"


def dump(spark, name: str, df) -> None:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    s = df._jdf.queryExecution().explainString(mode)
    (OUT / f"{name}_interior.txt").write_text(s)
    print(name, "->", len(s.splitlines()), "lines")


def main() -> None:
    spark = get_session("interior-plans")
    from parquet_on_fhir_spark.api import load_table

    li = load_table(spark, SF, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 500).alias("src"),
        (F.col("l_partkey") % 500).alias("dst"),
    )

    # --- connected_components round 1 (the q108/q120 fixpoint body) ---
    ends = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).localCheckpoint()
    nodes = (
        ends.select("u").unionAll(ends.select(F.col("v").alias("u"))).distinct()
    )
    bidir = ends.filter(F.col("u") != F.col("v"))
    bidir = bidir.unionAll(
        bidir.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = nodes.select(F.col("u").alias("node"), F.col("u").alias("comp"))
    prop = bidir.join(labels, bidir["u"] == labels["node"]).select(
        F.col("v").alias("node"), F.col("comp")
    )
    new = labels.unionAll(prop).groupBy("node").agg(F.min("comp").alias("comp"))
    dump(spark, "connected_components_round1", new)

    # --- pagerank round 1 (pre-checkpoint; the per-iteration body) ---
    from parquet_on_fhir_spark.operators.graph import pagerank

    dump(spark, "pagerank_5rounds_lazy", pagerank(edges, iterations=5))

    # --- concept_closure round 1 (the qf23/qf40 doubling body) ---
    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _encode_doc,
    )

    cs = _encode_doc(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem")
    e = concept_edges(cs)
    clo = (
        e.select(
            "system",
            F.col("parent").alias("ancestor"),
            F.col("child").alias("descendant"),
        )
        .distinct()
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    hop = clo.select(
        F.col("system").alias("h_system"),
        F.col("ancestor").alias("h_anc"),
        F.col("descendant").alias("h_desc"),
    )
    grown = (
        clo.join(
            hop,
            (F.col("system") == F.col("h_system"))
            & (F.col("descendant") == F.col("h_anc")),
        )
        .select("system", "ancestor", F.col("h_desc").alias("descendant"))
        .unionByName(clo)
        .distinct()
    )
    dump(spark, "concept_closure_round1", grown)
    # the checkpointed closure itself, for the consumer-side shape
    dump(spark, "concept_closure_final", concept_closure(e))

    # --- allocate_crawl_budget, lazy form (full ranked-pass plan) ---
    from parquet_on_fhir_spark.operators.frontier import allocate_crawl_budget

    demand = (
        load_table(spark, SF, "events")
        .select((F.col("user_id") % 35).cast("string").alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_urls"))
    )
    dump(
        spark,
        "allocate_crawl_budget_lazy",
        allocate_crawl_budget(demand, 60, eager_cleanup=False),
    )


if __name__ == "__main__":
    main()
