"""Parquet sink conformance: footers must match the reference examples'
config — SNAPPY, dictionary encoding, min/max statistics (SURVEY.md §0,
BASELINE.md example-data anchor) — plus extension-depth spill behavior."""

import json

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from parquet_on_fhir_spark.fhir.encode import encode_ndjson, write_table
from parquet_on_fhir_spark.fhir.schema import derive_schema


def _one_part(path):
    import glob

    return sorted(glob.glob(f"{path}/part-*.parquet"))[0]


def test_sink_footer_matches_reference_config(spark, tmp_path_factory):
    p = spark.read.parquet("/root/reference/examples/Patient.parquet")
    out = str(tmp_path_factory.mktemp("sinkconf"))
    write_table(p, out)
    pf = pq.ParquetFile(_one_part(out))
    md = pf.metadata
    rg = md.row_group(0)
    cols = {
        rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)
    }
    id_col = cols["id"]
    assert id_col.compression == "SNAPPY"
    assert id_col.statistics is not None and id_col.statistics.has_min_max
    # dictionary encoding engages on low-cardinality columns (writers
    # rightly fall back to PLAIN for the all-distinct UUID id column)
    gender = cols["gender"]
    assert "DICTIONARY" in str(gender.encodings), gender.encodings


def test_int96_timestamp_write(spark, tmp_path_factory):
    df = spark.createDataFrame(
        [("a",)], "id string"
    ).select("id", F.lit("2020-01-02").cast("timestamp").alias("ts"))
    out = str(tmp_path_factory.mktemp("int96"))
    write_table(df, out, int96_timestamps=True)
    sch = pq.read_schema(_one_part(out))
    # pyarrow surfaces parquet INT96 as timestamp[ns]
    assert str(sch.field("ts").type) == "timestamp[ns]"
    back = spark.read.parquet(out)
    assert str(back.collect()[0].ts) == "2020-01-02 00:00:00"


def test_extension_depth_spill(spark, tmp_path_factory):
    rows = [
        {
            "resourceType": "Patient",
            "id": "p1",
            "extension": [
                {
                    "url": "http://x/level1",
                    "extension": [
                        {
                            "url": "http://x/level2",
                            "extension": [
                                {"url": "http://x/level3", "valueString": "deep"}
                            ],
                        }
                    ],
                }
            ],
        }
    ]
    d = str(tmp_path_factory.mktemp("spill"))
    with open(f"{d}/p.ndjson", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    schema = derive_schema(spark, d, max_extension_depth=2)
    df = encode_ndjson(spark, d, schema=schema, resource_type="Patient")
    # level-2 extension field spilled to raw JSON string
    lvl1 = df.schema["extension"].dataType.elementType
    lvl2 = lvl1["extension"].dataType.elementType
    assert lvl2["extension"].dataType.simpleString() == "string"
    # the spilled text is verbatim JSON, still queryable
    deep_url = df.select(
        F.get_json_object(F.col("extension")[0]["extension"][0]["extension"], "$[0].url").alias(
            "u"
        )
    ).collect()[0].u
    assert deep_url == "http://x/level3"
