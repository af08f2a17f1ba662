"""Table registry over the driver test data.

One Parquet file per table (TPC-H-ish star schema + events/documents/
embeddings — see /root/repo/FIXTURES.md). At 100 TB each of these would
be a partitioned directory tree; ``spark.read.parquet`` handles both
shapes identically, and Catalyst pushes filters/projections into the
scan either way.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType

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

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame (lazy; scan-level pruning applies).

    The schema comes from the Parquet footer (:func:`footer_schema`), so
    opening a table starts no Spark job. TIMESTAMP(NANOS) columns, which
    Spark's reader rejects, load as bigint under ``nanosAsLong`` and are
    converted to microsecond timestamps JVM-side (``div 1000``: integer
    division, no double round trip, matching DuckDB's nanos→micros
    truncation). A path whose footers disagree or cannot be read falls
    back to Spark's own schema inference.
    """
    path = f"{sf_dir}/{name}.parquet"
    found = footer_schema(path)
    if found is None:
        return spark.read.parquet(path)
    schema, ns_cols = found
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def footer_schema(path: str) -> tuple[StructType, tuple[str, ...]] | None:
    """The Spark schema of a Parquet file or directory and the names of
    its TIMESTAMP(NANOS) columns, from pyarrow footer reads on the
    driver (one per part file; under 2 ms per table at sf0.1) instead
    of Spark's schema-inference job.

    Files written by Spark carry their schema under
    ``org.apache.spark.sql.parquet.row.metadata``, which Spark's own
    inference uses as is, so this does too (Spark writes no nanos
    column). Other files map through ``from_arrow_type`` the way Spark's
    inference types them: timezone-naive timestamps become
    ``timestamp_ntz`` and nanos columns ``bigint`` (``nanosAsLong``).
    Partition columns are not in a footer; Spark still discovers them
    from the directory names.

    ``None`` when the part files do not all carry the same schema, a
    footer cannot be read or mapped, or a non-Spark file holds INT96:
    the caller lets Spark infer.
    """
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    try:
        dataset = ds.dataset(path, format="parquet")
        fs = dataset.filesystem
        metas = [pq.read_metadata(f, filesystem=fs) for f in dataset.files]
    except (OSError, pa.ArrowException):
        return None
    if not metas:
        return None
    arrow = metas[0].schema.to_arrow_schema()
    spark_json = (metas[0].metadata or {}).get(_SPARK_SCHEMA_KEY)
    if any(
        (m.metadata or {}).get(_SPARK_SCHEMA_KEY) != spark_json
        or not m.schema.to_arrow_schema().equals(arrow)
        for m in metas[1:]
    ):
        return None
    if spark_json is not None:
        try:
            return StructType.fromJson(json.loads(spark_json)), ()
        except ValueError:  # a pre-JSON Spark schema string
            return None
    if any(c.physical_type == "INT96" for c in metas[0].schema):
        return None  # Spark infers an LTZ timestamp, pyarrow naive nanos
    nanos = tuple(
        f.name for f in arrow if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    try:
        fields = [
            StructField(
                f.name,
                LongType()
                if f.name in nanos
                else from_arrow_type(f.type, prefer_timestamp_ntz=True),
                f.nullable,
            )
            for f in arrow
        ]
    except TypeError:  # an Arrow type with no Spark counterpart
        return None
    return StructType(fields), nanos


def load(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Load several tables at once: ``c, o, l = load(spark, d, "customer", ...)``."""
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every test table as a temp view for ``spark.sql`` use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
