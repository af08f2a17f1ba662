"""SparkSession factory tuned for this engine.

Scale posture: these configs are the local-mode projection of the
settings we would run on a 1000-executor cluster against ~100 TB —
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to the parallelism at hand,
UTC session time so results are byte-comparable across engines, and
Arrow for any pandas exchange.

py4j round trips: every classic ``Column`` method and ``F.col`` goes
through ``pyspark.errors.utils._with_origin``, which (while
``spark.python.sql.dataFrameDebugging.enabled`` is on, pyspark's
default) looks up the active session, reads
``spark.sql.stackTracesInDataFrameContext``, resolves
``PySparkCurrentOrigin`` by reflection, walks the Python stack and sets
then clears the origin — about 7 extra py4j round trips per Column
call. Building ``to_fhir_json`` over a Patient schema takes ~2,950 round
trips with it and ~840 without. The session turns it off. What is lost:
Spark error messages no longer carry PySpark's "DataFrame query
context" file:line lines; error classes and messages are unchanged.
pyspark reads the flag once per process, at the first Column call made
while a session is active, so it is set on ``SparkSession.builder`` —
a later ``conf.set`` comes too late.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkConf
from pyspark.sql import SparkSession

# Catalyst extension jar (annotation-aware predicate rewrite, SURVEY
# §4.1 v2 — built by tools/build_jvm_ext.py and committed). Wired only
# when present; SPARK_GRAFT_NO_EXT=1 is the kill switch. If the JVM was
# already launched without the jar, Spark logs a warning and builds the
# session without the extension — never fatal.
_EXT_JAR = Path(__file__).resolve().parent / "jvm" / "pofs-catalyst-ext.jar"
_EXT_CLASS = "org.pofs.spark.FhirAnnotationExtensions"

# The directory that holds the package. Python workers import the
# package whenever a UDF or ``mapInPandas`` function refers to it, and
# they do not inherit this process's ``sys.path``.
_PKG_PARENT = str(Path(__file__).resolve().parent.parent)


def _worker_pythonpath() -> str:
    """``spark.executorEnv.PYTHONPATH`` with the package's parent
    directory first, merged with any value already configured."""
    existing = SparkConf().get("spark.executorEnv.PYTHONPATH", "")
    parts = [p for p in existing.split(os.pathsep) if p and p != _PKG_PARENT]
    return os.pathsep.join([_PKG_PARENT, *parts])


def get_session(app_name: str = "parquet-on-fhir-spark") -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
        # ones, convert sort-merge joins to broadcast when a side turns out
        # small. Essential at 100 TB, free at sf0.01.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local: ~1 shuffle partition per core. On a cluster this would be
        # sized to (input bytes / 128MB) and then AQE-coalesced.
        .config(
            "spark.sql.shuffle.partitions",
            cpus if cpus not in ("*", "") else str(os.cpu_count() or 8),
        )
        # Deterministic timestamps vs the DuckDB oracle (naive-UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas UDF / toPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # No per-Column call-site capture (see the module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Workers import the package from any working directory.
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
    )
    if _EXT_JAR.exists() and os.environ.get("SPARK_GRAFT_NO_EXT") != "1":
        # extraClassPath (not spark.jars): pyspark forwards builder
        # configs onto the spark-submit launch command, so the jar is
        # on the JVM classpath from the start — spark.jars instead
        # registers an added-jar that every TASK re-checks
        # (updateDependencies), a measurable per-task tax on a
        # many-small-stage workload (~8% on the bench suite).
        builder = (
            builder.config("spark.driver.extraClassPath", str(_EXT_JAR))
            .config("spark.executor.extraClassPath", str(_EXT_JAR))
            .config("spark.sql.extensions", _EXT_CLASS)
        )
    return builder.getOrCreate()


def local_rows_df(spark: SparkSession, rows, schema):
    """A DataFrame over rows held on the driver, planned as a
    ``LocalTableScan`` when small: no scan of it starts a Spark job or
    a Python worker.

    ``rows`` are tuples or ``Row``s in the column order of ``schema``,
    a ``StructType`` or a DDL string. They reach the JVM as one Arrow
    table, which Spark keeps as a ``LocalRelation`` below
    ``spark.sql.execution.arrow.localRelationThreshold`` (64 MB by
    default; above it, a JVM-side RDD of Arrow batches). The list or RDD
    forms of ``createDataFrame`` give an RDD scan instead, and over a
    Python RDD pyspark adds a ``map`` that runs in a Python worker on
    every scan: each broadcast build and each action. q299's broadcast
    of 150 WebP payloads paid 130-210 ms a call for that job. Naive
    datetimes in a ``timestamp`` column are read as UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC (idempotent, runtime-settable).

    Called at the top of every query so results are comparable with the
    DuckDB oracle regardless of who built the session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
