"""Table registry over the driver test data.

One Parquet file per table (TPC-H-ish star schema + events/documents/
embeddings — see /root/repo/FIXTURES.md). At 100 TB each of these would
be a partitioned directory tree; ``spark.read.parquet`` handles both
shapes identically, and Catalyst pushes filters/projections into the
scan either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5, nation=25 rows always; supplier/part grow slowly).
BROADCAST_DIMS = ("region", "nation", "supplier", "part")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame (lazy; scan-level pruning applies).

    Tolerates parquet TIMESTAMP(NANOS) columns (which Spark's reader
    rejects): falls back to reading nanos as LongType and converts to
    microsecond timestamps JVM-side (`div 1000` — integer division, no
    double roundtrip, matching DuckDB's nanos→micros truncation).
    """
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    # Only files WITHOUT embedded Spark schema metadata need the fallback:
    # Spark reads its own nanos writes fine, but rejects foreign
    # TIMESTAMP(NANOS) unless nanosAsLong is on (then they load as bigint).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in ns_cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _nanos_columns(path: str) -> tuple[str, ...]:
    """Names of TIMESTAMP(NANOS) columns in a parquet file/dir: a pyarrow
    footer read on every call (under 2 ms per table at sf0.1), so no
    process-global state says what unit a path held earlier."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    try:
        schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return ()
    return tuple(
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def load(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Load several tables at once: ``c, o, l = load(spark, d, "customer", ...)``."""
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every test table as a temp view for ``spark.sql`` use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
