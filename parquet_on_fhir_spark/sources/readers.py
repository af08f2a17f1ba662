"""Readers with engine conventions baked in."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(
    spark: SparkSession, *paths: str, merge_schema: bool = False
) -> DataFrame:
    """Parquet scan; ``merge_schema`` enables the spec's sparse-table
    union semantics (README.md:20-22). Nanos-timestamp files should go
    through api.load_table, which normalizes them."""
    return (
        spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(*paths)
    )


def read_csv(
    spark: SparkSession, path: str, schema: str | T.StructType, header: bool = True
) -> DataFrame:
    """CSV with an explicit schema — inference is a whole extra pass over
    the data and type-unstable at scale."""
    return spark.read.option("header", str(header).lower()).schema(schema).csv(path)


def read_ndjson(
    spark: SparkSession, path: str, schema: str | T.StructType
) -> DataFrame:
    """Newline-delimited JSON with an explicit schema (FHIR encode path
    derives one first — fhir.schema.derive_schema)."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Opaque media payloads: (path, modificationTime, length, content)
    with content as BinaryType — feeds operators.multimodal."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
