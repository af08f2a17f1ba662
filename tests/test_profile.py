"""The profiler: jobs counted by job tag (streaming micro-batches
included), task time read from the status store, and the per-query
layer split the command line prints."""

import json
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from parquet_on_fhir_spark import profile

REPO = Path(__file__).resolve().parent.parent


def test_jobs_reads_task_time_and_keeps_callers_group(spark):
    """A tagged shuffle job reports its tasks and a positive executor run
    time (a pyspark upgrade that moves ``statusStore`` fails here), and
    the tag leaves the caller's job group in place."""
    sc = spark.sparkContext
    sc.setJobGroup("profile-outer", "profile-outer")
    try:
        with profile.jobs(spark) as started:
            spark.range(200_000).groupBy((F.col("id") % 97).alias("k")).count().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert started.ids
    assert started.tasks >= 2
    assert started.task_s > 0
    grouped = set(sc.statusTracker().getJobIdsForGroup("profile-outer"))
    assert set(started.ids) <= grouped


def test_count_jobs_sees_foreach_batch_micro_batches(spark, sf_dir, tmp_path, count_jobs):
    """Each micro-batch of a stream runs under the stream's own job group;
    the tag still reaches it, so a 3-file source replayed one file per
    trigger shows at least one job per batch."""
    from parquet_on_fhir_spark.streaming.jobs import (
        run_foreach_batch_to_parquet,
        stream_events_multibatch,
    )

    stream = stream_events_multibatch(spark, sf_dir, n_files=3).select("event_id")
    out = tmp_path / "out"
    _, jobs = count_jobs(lambda: run_foreach_batch_to_parquet(stream, str(out)))
    assert len(list(out.glob("batch=*"))) == 3
    assert jobs >= 3


def test_profile_cli_prints_each_rep(spark, sf_dir, tmp_path, capsys):
    profile.main(
        [sf_dir, "--reps", "2", "--plans", str(tmp_path), "q21_agg_tpch_q1"]
    )
    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    rec, total = lines
    assert rec["name"] == "q21_agg_tpch_q1"
    for f in profile.FIELDS:
        assert len(rec[f]) == 2, f
        assert total[f] == rec[f], f
    assert rec["build_jobs"][0] == rec["build_jobs"][1]
    assert min(rec["action_jobs"]) >= 1 and min(rec["tasks"]) >= 1
    assert min(rec["build_py4j"]) > 0
    assert rec["exchanges"] >= 1 and rec["py_evals"] == 0
    assert total["n_queries"] == 1
    assert "HashAggregate" in (tmp_path / "q21_agg_tpch_q1.txt").read_text()


@pytest.mark.slow
def test_jobs_survives_evicted_skipped_stages():
    """Past ``spark.ui.retainedStages`` the status store drops skipped
    stages first, while the jobs that skipped them still list their ids;
    ``jobs()`` reads the completed stages and passes over the dropped
    ones. Its own JVM, since the limit is fixed at context start."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from parquet_on_fhir_spark import profile\n"
        "spark = (SparkSession.builder.master('local[1]')\n"
        "         .config('spark.ui.retainedStages', '10').getOrCreate())\n"
        "sc = spark.sparkContext\n"
        "for _ in range(6):\n"
        "    with profile.jobs(spark) as started:\n"
        "        rdd = sc.parallelize(range(100), 2).map(lambda x: (x % 7, 1))\n"
        "        rdd = rdd.reduceByKey(lambda a, b: a + b)\n"
        "        for _ in range(3):\n"
        "            rdd.collect()\n"
        "    print(len(started.ids), started.tasks)\n"
        "spark.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # three jobs a block: map + reduce stages, then the reduce stage
    # twice, the map stage skipped; the third job's reduce stage evicts
    # the second job's skipped stage
    assert proc.stdout.splitlines()[-6:] == ["3 8"] * 6
