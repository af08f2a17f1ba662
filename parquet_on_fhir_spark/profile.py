"""Per-query layer accounting: what a block of driver code cost Spark.

- :func:`jobs` runs a block under a job tag of its own and, on exit,
  fills in the jobs it started and their completed tasks and executor
  run time. A tag, unlike a job group, is inherited by the thread a
  streaming query runs its micro-batches on (each of which sets its own
  group), and it leaves any caller's group in place.
- :func:`py4j_commands` records the py4j commands the block sent: the
  construction cost that starts no job.
- :func:`profile_query` splits a suite query, the way ``bench.py`` runs
  it, into construction (the ``fn(spark, sf_dir)`` call) and the timed
  ``count()`` action.

Job and stage figures come from the context's status store, the one
behind ``statusTracker`` and the UI's REST API, so no UI server is
needed. Run as a module to profile ``bench.py``'s headline queries::

    python -m parquet_on_fhir_spark.profile [sf_dir] [--reps N] [--plans DIR] [name-substring ...]

It prints one JSON line per query and a ``_TOTAL`` line. Every
measured field is a list with one entry per rep, because AQE plans do
not always repeat their job counts exactly; the total sums each rep
over the queries. ``--plans DIR`` writes each query's formatted
physical plan to ``DIR/<name>.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

#: per-rep fields of a :func:`profile_query` record
FIELDS = (
    "build_s",
    "build_jobs",
    "build_py4j",
    "action_s",
    "action_jobs",
    "tasks",
    "task_s",
)

_NODE = re.compile(r"^\(\d+\) (\S+)", re.M)
_PYTHON_NODE = re.compile("Python|Pandas|Arrow")


@dataclass
class Jobs:
    """The jobs a :func:`jobs` block started, filled in when it exits."""

    ids: list[int] = field(default_factory=list)
    tasks: int = 0
    task_s: float = 0.0


@contextmanager
def jobs(spark: SparkSession):
    """Run the block under a fresh job tag; on exit the yielded
    :class:`Jobs` holds every job started with that tag, after the
    listener bus has drained, with the completed tasks and executor run
    time of their stages."""
    sc = spark.sparkContext
    tag = f"pofs-profile-{uuid.uuid4().hex}"
    out = Jobs()
    sc.addJobTag(tag)
    try:
        yield out
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out.ids = sorted(jsc.statusTracker().getJobIdsForTag(tag))
    store = jsc.statusStore()
    stages = {
        int(s)
        for j in out.ids
        for s in store.job(j).stageIds().mkString(",").split(",")
        if s
    }
    for sid in stages:
        try:
            stage = store.lastStageAttempt(sid)
        except Py4JJavaError as e:
            # Past spark.ui.retainedStages the store evicts stages with no
            # completion time first: skipped ones, which ran no task.
            missing = "java.util.NoSuchElementException"
            if e.java_exception.getClass().getName() != missing:
                raise
            continue
        out.tasks += stage.numCompleteTasks()
        out.task_s += stage.executorRunTime() / 1000


@contextmanager
def py4j_commands(spark: SparkSession):
    """Record the py4j commands sent while the block runs, minus the
    ``m`` memory-release commands, which follow Python's garbage
    collector rather than the code under test."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent: list[str] = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command


def profile_query(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    reps: int = 3,
    plans: str | None = None,
) -> dict:
    """Profile the suite query ``name`` as ``bench.py`` runs it: one warm
    call (two for streaming queries), then ``reps`` timed reps of
    ``fn(spark, sf_dir)`` followed by ``count()``. The record lists each
    of :data:`FIELDS` per rep (``tasks`` and ``task_s`` belong to the
    ``count()`` jobs) and counts the Exchange and Python-evaluation
    nodes of the query's physical plan."""
    from parquet_on_fhir_spark.operators.bucketing import plan_of
    from parquet_on_fhir_spark.suite import all_queries

    fn = next(q.fn for q in all_queries() if q.name == name)
    fn(spark, sf_dir).count()
    if "stream" in name:
        fn(spark, sf_dir).count()
    rec: dict = {"name": name, **{f: [] for f in FIELDS}}
    for _ in range(reps):
        with jobs(spark) as build, py4j_commands(spark) as sent:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            build_s = time.perf_counter() - t0
        with jobs(spark) as action:
            t0 = time.perf_counter()
            df.count()
            action_s = time.perf_counter() - t0
        rep = {
            "build_s": round(build_s, 3),
            "build_jobs": len(build.ids),
            "build_py4j": len(sent),
            "action_s": round(action_s, 3),
            "action_jobs": len(action.ids),
            "tasks": action.tasks,
            "task_s": round(action.task_s, 3),
        }
        for f in FIELDS:
            rec[f].append(rep[f])
    plan = plan_of(df)
    if plans:
        Path(plans, f"{name}.txt").write_text(plan)
    nodes = _NODE.findall(plan)
    rec["exchanges"] = sum("Exchange" in n for n in nodes)
    rec["py_evals"] = sum(bool(_PYTHON_NODE.search(n)) for n in nodes)
    return rec


def main(argv: list[str] | None = None) -> None:
    from parquet_on_fhir_spark.api import DEFAULT_SF_DIR
    from parquet_on_fhir_spark.session import get_session

    ap = argparse.ArgumentParser(prog="python -m parquet_on_fhir_spark.profile")
    ap.add_argument("words", nargs="*", metavar="[sf_dir] name-substring")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans")
    args = ap.parse_intermixed_args(argv)
    words = args.words
    sf_dir = words.pop(0) if words and "/" in words[0] else DEFAULT_SF_DIR

    from bench import HEADLINE  # next to the package, so on sys.path

    names = [n for n in HEADLINE if not words or any(w in n for w in words)]
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = get_session("profile")
    spark.sparkContext.setLogLevel("ERROR")
    total: dict = {"name": "_TOTAL", **{f: [0] * args.reps for f in FIELDS}}
    for name in names:
        rec = profile_query(spark, name, sf_dir, args.reps, args.plans)
        for f in FIELDS:
            total[f] = [round(a + b, 3) for a, b in zip(total[f], rec[f])]
        print(json.dumps(rec), flush=True)
    total["n_queries"] = len(names)
    total["load_1m"] = round(os.getloadavg()[0], 2)
    print(json.dumps(total), flush=True)


if __name__ == "__main__":
    main()
