"""Round-16 job/stage profiler (guide §1/§7): for each named headline
query, runs the query with the bench's count() action and reports —
via the Spark UI REST API — how many JOBS one execution schedules, the
per-job wall durations, and the heaviest STAGES (executor run time vs
wall), so "fewer jobs per call" claims are measurable instead of
asserted.

Usage:
    python tools/job_profile.py [sf_dir] [--reps N] name-substring ...

Prints one JSON line per query:
    {"name": ..., "wall_med": s, "jobs_per_run": n,
     "top_stages": [[stage, wall_s, executorRunTime_s, numTasks], ...]}
(at most 12 stages, slowest wall first; wall_s is -1.0 when the REST
API gives no submission/completion time).
"""

from __future__ import annotations

import json
import statistics
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parquet_on_fhir_spark.session import get_session  # noqa: E402
from parquet_on_fhir_spark.suite import all_queries  # noqa: E402


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def main() -> None:
    args = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    if args and not args[0].startswith("-") and "/" in args[0]:
        sf_dir = args.pop(0)
    reps = 3
    subs: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            subs.append(args[i])
            i += 1

    spark = get_session("job-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    specs = {q.name: q for q in all_queries()}
    import bench

    names = [n for n in bench.HEADLINE if not subs or any(s in n for s in subs)]

    for name in names:
        fn = specs[name].fn
        sc.setJobDescription(f"warm:{name}")
        fn(spark, sf_dir).count()
        if "stream" in name:
            fn(spark, sf_dir).count()

        walls: list[float] = []
        jobs_before = {j["jobId"] for j in _get(f"{base}/jobs")}
        for r in range(reps):
            sc.setJobDescription(f"timed:{name}:{r}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            walls.append(time.perf_counter() - t0)
        jobs = [j for j in _get(f"{base}/jobs") if j["jobId"] not in jobs_before]
        n_jobs = len(jobs) / reps

        # stage-level: pull the stages belonging to the new jobs
        stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
        stages = []
        all_stages = {s["stageId"]: s for s in _get(f"{base}/stages")}
        for sid in stage_ids:
            s = all_stages.get(sid)
            if not s or s.get("status") == "SKIPPED":
                continue
            try:
                sub = s.get("submissionTime")
                comp = s.get("completionTime")
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                wall = (
                    datetime.strptime(comp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
                    - datetime.strptime(sub.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
                ).total_seconds()
            except Exception:
                wall = -1.0
            stages.append(
                [
                    f"s{sid}:{(s.get('name') or '')[:40]}",
                    round(wall, 3),
                    round(s.get("executorRunTime", 0) / 1000.0, 3),
                    s.get("numTasks", -1),
                ]
            )
        stages.sort(key=lambda x: -x[1])
        print(
            json.dumps(
                {
                    "name": name,
                    "wall_med": round(statistics.median(walls), 3),
                    "jobs_per_run": n_jobs,
                    "top_stages": stages[:12],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
