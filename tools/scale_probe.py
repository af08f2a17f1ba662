"""Scale-up probe: replicate the sf0.1 tables k× (with key offsets that
preserve join fanout) into /tmp, rerun headline queries, and report
timing ratios. Linearity here + plan-shape stability is the local
evidence that the operator formulations survive growth (the real test
being a 1000-executor cluster, which this container can't host).

Usage: python tools/scale_probe.py [k]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from parquet_on_fhir_spark.api import load_table
from parquet_on_fhir_spark.profile import profile_query
from parquet_on_fhir_spark.session import get_session

PROBE_QUERIES = [
    # anchors (probed every wave for run-to-run comparability)
    "q00_flagship_shipping_priority",
    "q21_agg_tpch_q1",
    "q89_tpch_q18",
    # round-11 wave (earlier waves' bands are pinned in SCALE_NOTES.md;
    # q255/q259 are fixture-bounded by design — q255 joins a fixed
    # 100-payload probe table onto doc_id<200 like q185, q259's
    # hypothesis frame is 200 rows whatever the sf; qf38/qf39 are
    # inline-doc terminology queries whose scaling axes (concept count,
    # reference-chain depth) are probed by tools/terminology_probe.py):
    "qf40_validate_code_facts",    # broadcast expansion over SF-SCALED events
    "q256_brier_decomposition",    # two map-side-combined hash aggregates
    "q257_rank_biased_overlap",    # two lineitem aggs -> depth-20 frames
    "q258_weighted_sample",        # map-side keys + TakeOrdered top-k
    "q260_hits",                   # 4 half-step shuffles over distinct edges
    # round-12 wave (qf43/qf44/qf45 are inline-fixture terminology —
    # terminology_probe.py axis; q263 is fixture-bounded like q255):
    "q264_bloom_semi_join",        # 16KB-bitmap build + map-side prefilter over SF-SCALED orders
    # round-12 wave 2 (q270 is fixture-bounded like q255/q263; q271's
    # brute-force candidate builder is query-sized by contract — its
    # scalable core is pair-frame-relative; qf46/qf47 are fixture
    # terminology/format rows):
    "q266_degree_assortativity",   # distinct + degree aggs + 2 joins over SF-SCALED lineitem
    "q267_histogram_sketch_quantiles",  # ONE map-side-combined pass over SF-SCALED lineitem
    "q268_kendall_tau",            # per-segment applyInPandas over SF-SCALED customer/orders
    "q269_cross_correlation",      # two date aggs over SF-SCALED facts + K-day lag join
    "q272_label_propagation",      # 2 LPA rounds over the SF-SCALED incidence graph
    # q273 containment is EXCLUDED by design: replication makes every
    # document 30x-duplicated, and containment pair volume is genuinely
    # quadratic in the duplication factor (every copy pairs with every
    # copy) -- a measured 590 s+ timeout at x30, not a plan defect. The
    # production posture is exact_dedup FIRST, then containment with
    # shingle_cap (SCALE_NOTES round-12 wave-2 note); the join shape
    # itself is the q67c/q113 anchor.
    # round-12 wave 3 (q283 fisher / q286 mcnemar are EXCLUDED by
    # design: both are small-sample exact tests whose DECIMAL(38,0)
    # envelope guard deliberately REFUSES n > 120 — replication would
    # trip the guard, which is the documented contract (use chi2/z at
    # scale); their data-touching stage is one q21-shape aggregate.
    # q284/q285 are fixture-bounded codec rows like q255/q263/q270):
    "q282_url_dedup_audit",        # map-only canonicalization + ONE agg over SF-SCALED documents
    "q287_bpe_encode",             # distinct-word agg + vocab-frame merge chain + broadcast-back over SF-SCALED documents
    "q288_dynamic_partition_pruning",  # partitioned write + runtime-pruned scan over SF-SCALED orders
    # round-14 wave (q309/q310 are fixture-bounded codec-family rows
    # like q255/q263 — 150 fixed payloads joined onto doc_id<150; their
    # scaling axes are per-payload python cost, priced in the operator
    # docstrings, and the robots host axis, banded by robots_probe.py):
    "q70c_ivf_fixed_codebook",     # centroid assignment + probe over the SF-SCALED embeddings corpus
]


def replicate(spark, sf_dir: str, out: str, k: int) -> None:
    copies = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("__copy")

    def scale(name: str, offsets: dict[str, int]) -> None:
        df = load_table(spark, sf_dir, name).select("*", copies)
        for col, base in offsets.items():
            df = df.withColumn(col, F.col(col) + F.col("__copy").cast("long") * base)
        df.drop("__copy").write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    scale("customer", {"c_custkey": 10_000_000})
    scale("orders", {"o_orderkey": 1_000_000_000, "o_custkey": 10_000_000})
    scale("lineitem", {"l_orderkey": 1_000_000_000})
    scale("events", {"event_id": 1_000_000_000, "user_id": 10_000_000})
    scale("documents", {"doc_id": 100_000})
    scale("embeddings", {"vec_id": 10_000_000})
    for name in ("region", "nation", "supplier", "part"):
        load_table(spark, sf_dir, name).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )


def time_queries(spark, sf_dir: str) -> dict[str, float]:
    """Seconds of one ``fn(spark, sf_dir).count()`` per probe query,
    after a warm call (``profile.profile_query``)."""
    out = {}
    for name in PROBE_QUERIES:
        rec = profile_query(spark, name, sf_dir, reps=1)
        out[name] = round(rec["build_s"][0] + rec["action_s"][0], 3)
    return out


def allpairs_candidates(spark, sf_dir: str) -> dict[str, int]:
    """q194's scale lever, measured directly: the All-Pairs prefix
    candidate count over the FULL (unsliced) documents table vs the n²
    all-pairs bound — the sixth-wave timing was a probe artifact (the
    suite query's doc_id slice is replication-invariant), so the
    candidate ratio is the honest evidence the prefix filter holds."""
    from parquet_on_fhir_spark.operators.joins import (
        _set_similarity_candidates,
        _set_similarity_ordered,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_remove(F.split(F.col("text"), " "), "").alias("toks")
    )
    n = d.count()
    ordered = _set_similarity_ordered(d, "doc_id", "toks")
    cand = _set_similarity_candidates(ordered, 0.8)
    return {
        "n_docs": n,
        "all_pairs": n * (n - 1) // 2,
        "candidate_rows": cand.count(),
        "candidate_pairs": cand.select("id_a", "id_b").distinct().count(),
    }


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base_dir = "/root/testdata/sf0.1"
    spark = get_session("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    scaled_dir = tempfile.mkdtemp(prefix=f"pofs_scale{k}_")
    try:
        t0 = time.perf_counter()
        replicate(spark, base_dir, scaled_dir, k)
        gen_s = round(time.perf_counter() - t0, 1)

        base = time_queries(spark, base_dir)
        big = time_queries(spark, scaled_dir)
        report = {
            "k": k,
            "generate_seconds": gen_s,
            "base_seconds": base,
            "scaled_seconds": big,
            "ratio": {q: round(big[q] / max(base[q], 1e-3), 2) for q in base},
        }
        # the All-Pairs candidate census is its own (expensive) experiment —
        # measured through wave 8 and now guarded in-operator
        # (operators/joins.py::_set_similarity_guard); opt in explicitly
        if "--allpairs" in sys.argv:
            report["allpairs_base"] = allpairs_candidates(spark, base_dir)
            report["allpairs_scaled"] = allpairs_candidates(spark, scaled_dir)
    finally:
        shutil.rmtree(scaled_dir, ignore_errors=True)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
