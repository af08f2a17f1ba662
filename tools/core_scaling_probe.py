"""Core-scaling probe (r16 — VERDICT #7): at sf0.1 the whole headline
suite is overhead/driver-bound, so the driver's 8-vs-32-core scaling
block reads ≈1 everywhere and cannot show data parallelism. This probe
replicates sf0.1 ×k (tools/scale_probe.py replication, key offsets
preserve join fanout) into a FIXED directory once, then times a small
set of genuinely data-bound headline queries at the core count in
``SPARK_GRAFT_CPUS``. Run it twice (32 and 8) and compare medians:

    python tools/core_scaling_probe.py /tmp/pofs_x10 10          # replicate + time @ $SPARK_GRAFT_CPUS
    SPARK_GRAFT_CPUS=8 python tools/core_scaling_probe.py /tmp/pofs_x10 10

The replicated directory is reused when it already exists (the probe
times QUERIES, not the replication), so both core counts see identical
bytes. Prints one JSON line: {"cpus": N, "k": K, "queries": {...}},
with each query's ``profile.profile_query`` record (3 reps after a
warm call).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parquet_on_fhir_spark.profile import profile_query  # noqa: E402
from parquet_on_fhir_spark.session import get_session  # noqa: E402
from tools.scale_probe import replicate  # noqa: E402

#: data-bound headline queries whose heavy stages can actually spread
#: over cores at replicated scale. Two of the VERDICT #7 candidates are
#: EXCLUDED for measurement honesty, not convenience:
#:   - q108: replication duplicates every document k times, so every
#:     LSH bucket holds k+ identical copies and candidate-pair volume
#:     is QUADRATIC in k (the documented q273-containment artifact in
#:     SCALE_NOTES round-12 wave-2) — a x100 run OOMs an 8g local JVM
#:     on pair buffers; the operator's scaling evidence is the x10/x30
#:     bands in SCALE_NOTES, where pair volume stays honest.
#:   - q241: the replicated documents table is k identical text copies,
#:     which zstd collapses to a SINGLE parquet split (x100 = 4.9 MB on
#:     disk), and the gram explode + partial aggregate fuse into that
#:     1-task scan stage — core count cannot matter by construction.
#:     At real corpus scale the scan has thousands of splits and the
#:     same fused stage spreads; replication cannot emulate that.
PROBE = [
    "q00_flagship_shipping_priority",
    "q21_agg_tpch_q1",
    "q89_tpch_q18",
    "q90_scale10_agg",
    "q264_bloom_semi_join",
]


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pofs_x10"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    spark = get_session("core-scaling-probe")
    # Measurement scaffolding, applied identically at BOTH core counts:
    # the replicated tables are still sub-GB (zstd text compresses the
    # ×k copies hard), so at the default 128 MB split size every scan —
    # and the map-side work fused into it (gram explodes, shingle
    # hashing, partial aggregates) — is 1-3 tasks and core count cannot
    # matter. 8 MB splits give the map stages enough tasks that the
    # probe measures COMPUTE scaling rather than split granularity.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    if not os.path.exists(os.path.join(out_dir, "lineitem.parquet")):
        replicate(spark, "/root/testdata/sf0.1", out_dir, k)
    # Hardware calibration: a perfectly-parallel pure-CPU job (Python
    # workers, no shared heap, no shuffle) measures what the sandbox's
    # threads can deliver AT ALL — on shared/throttled vCPUs the
    # 8→32-thread ceiling is far below 4×, and query ratios must be
    # read against THIS ceiling, not against the thread count.
    t0 = time.perf_counter()
    spark.sparkContext.parallelize(range(64), 64).map(
        lambda i: sum((i * 2654435761 + j * 40503) % 1000003
                      for j in range(3_000_000))
    ).count()
    calib = round(time.perf_counter() - t0, 3)
    print(f"# pure-cpu calibration (64 tasks x 3M hash ops): {calib}s",
          file=sys.stderr)
    results: dict = {"__pure_cpu_calibration": calib}
    for name in PROBE:
        results[name] = profile_query(spark, name, out_dir, reps=3)
    print(json.dumps({
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "k": k,
        "queries": results,
    }))


if __name__ == "__main__":
    main()
