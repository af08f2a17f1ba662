"""Building a frame starts no Spark job: driver rows become a
``LocalRelation`` (``session.local_rows_df``) and Parquet schemas come
from the footer (``api.footer_schema``) instead of Spark's inference."""

import glob
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from parquet_on_fhir_spark.api import footer_schema, load_table
from parquet_on_fhir_spark.fhir.encode import write_table
from parquet_on_fhir_spark.fhir.table import FhirTable
from parquet_on_fhir_spark.session import local_rows_df
from parquet_on_fhir_spark.streaming.jobs import run_to_memory, stream_events

REPO = Path(__file__).resolve().parent.parent
SCALAR_DDL = "i INT, b BIGINT, s STRING, bin BINARY, d DOUBLE"
SCALAR_ROWS = [
    (1, 2**40, "a", b"\x00\xff", 1.5),
    (None, None, None, None, None),
    Row(i=-3, b=-(2**62), s="é\n", bin=bytearray(b"xy"), d=float("inf")),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- local_rows_df ------------------------------------------------------


@pytest.mark.parametrize("rows", [SCALAR_ROWS, []], ids=["rows", "empty"])
def test_local_rows_round_trip_as_local_table_scan(spark, count_jobs, rows):
    df, n_jobs = count_jobs(lambda: local_rows_df(spark, rows, SCALAR_DDL))
    assert n_jobs == 0
    assert df.dtypes == [
        ("i", "int"),
        ("b", "bigint"),
        ("s", "string"),
        ("bin", "binary"),
        ("d", "double"),
    ]
    assert [tuple(r) for r in df.collect()] == [
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r) for r in rows
    ]
    assert _plan(df).startswith("LocalTableScan")


def test_local_rows_take_a_struct_type_and_reject_ragged_rows(spark):
    schema = local_rows_df(spark, [], SCALAR_DDL).schema
    df = local_rows_df(spark, SCALAR_ROWS, schema)
    assert df.schema == schema
    assert df.count() == len(SCALAR_ROWS)
    with pytest.raises(ValueError):
        local_rows_df(spark, [(1, 2)], "a INT")


def test_q299_construction_starts_no_job(spark, sf_dir, count_jobs):
    """q299 reads ``documents`` and builds its 150-payload broadcast
    side from driver rows: neither starts a job, so its construction
    runs none (one schema-inference job before footer schemas, and a
    Python-worker job per scan of the payload frame)."""
    from parquet_on_fhir_spark.suite.llm import q299

    df, n_jobs = count_jobs(lambda: q299(spark, sf_dir))
    assert n_jobs == 0
    assert "LocalTableScan" in _plan(df)


# --- footer schemas -----------------------------------------------------


@pytest.mark.parametrize(
    "path",
    sorted(
        glob.glob("/root/testdata/sf0.001/*.parquet")
        + glob.glob(str(REPO / "perfbench" / "data" / "sf0.01" / "*.parquet"))
    ),
    ids=lambda p: "/".join(p.split("/")[-2:]),
)
def test_footer_schema_equals_inferred_schema(spark, count_jobs, path):
    """The pinned schema is Spark's own inference, timestamp_ntz
    included (pyarrow's naive timestamps), and opening the table runs
    no job."""
    schema, nanos = footer_schema(path)
    assert schema == spark.read.parquet(path).schema
    assert nanos == ()
    sf_dir, name = os.path.split(path)
    df, n_jobs = count_jobs(lambda: load_table(spark, sf_dir, name[: -len(".parquet")]))
    assert n_jobs == 0
    assert df.schema == schema


def _nanos_events(sf_dir, tmp_path):
    """``events`` rewritten by pyarrow with ``ts`` as TIMESTAMP(NANOS),
    sub-microsecond digits set; returns the new dir and the nanos."""
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    ns = pc.add(pc.multiply(tbl["ts"].cast(pa.int64()), 1000), 999)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"), "ts", ns.cast(pa.timestamp("ns"))
    )
    out = tmp_path / "nanos"
    out.mkdir()
    pq.write_table(tbl, out / "events.parquet")
    assert pq.read_schema(out / "events.parquet").field("ts").type.unit == "ns"
    return str(out), tbl


def _micros_by_id(df):
    return {
        r["event_id"]: r["us"]
        for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    }


def test_nanos_timestamps_load_as_truncated_micros(spark, sf_dir, tmp_path, count_jobs):
    """A foreign TIMESTAMP(NANOS) column reads as bigint and converts
    to a microsecond ``timestamp`` by integer division, in the batch
    loader and in the file stream alike."""
    nanos_dir, tbl = _nanos_events(sf_dir, tmp_path)
    schema, nanos = footer_schema(f"{nanos_dir}/events.parquet")
    assert nanos == ("ts",) and schema["ts"].dataType.typeName() == "long"
    ns = tbl["ts"].cast(pa.int64()).to_pylist()
    want = {e: n // 1000 for e, n in zip(tbl["event_id"].to_pylist(), ns)}

    batch, n_jobs = count_jobs(lambda: load_table(spark, nanos_dir, "events"))
    assert n_jobs == 0
    stream = run_to_memory(stream_events(spark, nanos_dir), "append")
    ref = load_table(spark, sf_dir, "events")
    for df in (batch, stream):
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.columns == ref.columns
        assert _micros_by_id(df) == want
        assert df.drop("ts").exceptAll(ref.drop("ts")).count() == 0


# --- FhirTable.read -----------------------------------------------------


def _tables(spark, root):
    df = spark.createDataFrame(
        [("p1", "male", "1970-01-01", 1.5), ("p2", "female", None, None)],
        "id string, gender string, birthDate string, weight double",
    ).withColumn("name", F.array(F.struct(F.lit("Doe").alias("family"))))
    write_table(df, f"{root}/plain")
    write_table(df, f"{root}/partitioned", partition_by=["gender"])
    df.write.parquet(f"{root}/appended")
    df.withColumn("extra", F.lit(7)).write.mode("append").parquet(f"{root}/appended")
    return {n: f"{root}/{n}" for n in ("plain", "partitioned", "appended")}


def test_fhir_table_read_matches_merged_inference(spark, tmp_path, count_jobs):
    """The footer schema gives the frame Spark's ``mergeSchema`` read
    gives: partition columns still come from the directory names, and
    part files with different schemas still merge. The plain and the
    partitioned table open without a job; the appended one keeps the
    inference path."""
    paths = _tables(spark, tmp_path)
    assert footer_schema(paths["appended"]) is None
    for name, path in paths.items():
        got, n_jobs = count_jobs(lambda: FhirTable.read(spark, path).df)
        want = spark.read.option("mergeSchema", "true").parquet(path)
        assert got.schema == want.schema, name
        assert sorted(map(str, got.collect())) == sorted(map(str, want.collect())), name
        assert (n_jobs == 0) == (name != "appended"), name
    assert "gender" in FhirTable.read(spark, paths["partitioned"]).df.columns
    assert "extra" in FhirTable.read(spark, paths["appended"]).df.columns


@pytest.mark.parametrize(
    "column",
    [pa.array([1], pa.uint32()), pa.array([1], pa.timestamp("ns"))],
    ids=["uint32", "int96"],
)
def test_unmapped_footer_falls_back_to_inference(spark, tmp_path, column):
    """A column whose Arrow type Spark types another way (unsigned ints;
    INT96, which pyarrow reads as naive nanos and Spark as an LTZ
    timestamp) leaves the schema to Spark's inference."""
    pq.write_table(
        pa.table({"c": column}),
        tmp_path / "t.parquet",
        use_deprecated_int96_timestamps=True,
    )
    assert footer_schema(str(tmp_path / "t.parquet")) is None
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(str(tmp_path / "t.parquet")).schema
    assert df.count() == 1
