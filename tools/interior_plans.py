"""Plan dumps for the iterative operators: the FINAL frame of a
checkpointed fixpoint explains as an opaque ``Scan ExistingRDD`` stub,
so this tool dumps plans the real operators build where the work is
still visible — ``pagerank`` over five lazy rounds, the consumer-side
shape of ``concept_closure``, and ``allocate_crawl_budget``, whose
ranked pass sits above its lazily checkpointed bucket frame. Output
goes to ``plans/r16/<name>_interior.txt``.

    python tools/interior_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from parquet_on_fhir_spark.operators.bucketing import plan_of  # noqa: E402
from parquet_on_fhir_spark.session import get_session  # noqa: E402

SF = "/root/testdata/sf0.1"
OUT = Path(__file__).resolve().parent.parent / "plans" / "r16"


def dump(name: str, df) -> None:
    s = plan_of(df)
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

    # --- pagerank, five lazy rounds (no per-round checkpoint) ---
    from parquet_on_fhir_spark.operators.graph import pagerank

    dump("pagerank_5rounds_lazy", pagerank(edges, iterations=5))

    # --- concept_closure (the qf23/qf40 closure) ---
    from parquet_on_fhir_spark.fhir.terminology import (
        concept_closure,
        concept_edges,
    )
    from parquet_on_fhir_spark.suite.fhir_queries import (
        _CS_ANATOMY_PROPS_DOC,
        _encode_doc,
    )

    cs = _encode_doc(spark, _CS_ANATOMY_PROPS_DOC, "CodeSystem")
    dump("concept_closure_final", concept_closure(concept_edges(cs)))

    # --- allocate_crawl_budget (the ranked pass above its checkpoint) ---
    from parquet_on_fhir_spark.operators.frontier import allocate_crawl_budget

    demand = (
        load_table(spark, SF, "events")
        .select((F.col("user_id") % 35).cast("string").alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_urls"))
    )
    dump("allocate_crawl_budget_lazy", allocate_crawl_budget(demand, 60))


if __name__ == "__main__":
    main()
