"""Streaming NDJSON→Parquet-on-FHIR ingest (streaming/fhir_ingest.py):
run-to-completion batches, exactly-once incremental append, quarantine."""

import pytest
import json

from parquet_on_fhir_spark.fhir.decode import to_fhir_json
from parquet_on_fhir_spark.streaming.fhir_ingest import stream_encode_ndjson

DOCS_A = [
    {"resourceType": "Patient", "id": "p1", "gender": "male",
     "birthDate": "1970-03",
     "name": [{"family": "A", "given": ["x", "y"]}]},
    {"resourceType": "Patient", "id": "p2", "gender": "female"},
]
DOCS_B = [
    {"resourceType": "Patient", "id": "p3",
     "name": [{"family": "C"}]},
]


def _write(d, fname, docs):
    with open(f"{d}/{fname}", "w") as f:
        for doc in docs:
            f.write(json.dumps(doc) + "\n")


def _docs_out(spark, out):
    df = spark.read.parquet(out)
    return sorted(
        (json.loads(r.json) for r in to_fhir_json(df).collect()),
        key=lambda x: x["id"],
    )


@pytest.mark.slow
def test_stream_encode_available_now_and_incremental(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ingest"))
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    import os

    os.makedirs(src)
    _write(src, "a.ndjson", DOCS_A)

    q = stream_encode_ndjson(
        spark, src, out, ckpt, resource_type="Patient"
    )
    q.awaitTermination()
    assert _docs_out(spark, out) == DOCS_A

    # second wave: only the new file is processed (checkpoint log),
    # nothing re-ingested, nothing lost
    _write(src, "b.ndjson", DOCS_B)
    q2 = stream_encode_ndjson(
        spark, src, out, ckpt, resource_type="Patient"
    )
    q2.awaitTermination()
    assert _docs_out(spark, out) == sorted(
        DOCS_A + DOCS_B, key=lambda x: x["id"]
    )

    # annotations were applied on the stream path
    schema = spark.read.parquet(out).schema
    assert "__birthDate_start" in schema.fieldNames()


def test_stream_encode_quarantine(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ingest_q"))
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    import os

    os.makedirs(src)
    with open(f"{src}/a.ndjson", "w") as f:
        f.write(json.dumps(DOCS_A[0]) + "\n")
        f.write("{not json at all\n")

    q = stream_encode_ndjson(
        spark, src, out, ckpt, resource_type="Patient", quarantine=True
    )
    q.awaitTermination()
    df = spark.read.parquet(out)
    rows = df.collect()
    assert len(rows) == 2
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["_corrupt_record"].startswith("{not json")
    good = [r for r in rows if r["_corrupt_record"] is None]
    assert good[0]["id"] == "p1"


def test_map_only_curation_ops_compose_with_streams(spark, tmp_path_factory, sf_dir):
    """chunk_documents / quality_score / split_corpus are pure map
    expressions, so the SAME calls run unchanged on a readStream — the
    streaming corpus-prep path needs no parallel implementations.  The
    AvailableNow result must equal the batch application row-for-row."""
    from pyspark.sql import functions as F

    from parquet_on_fhir_spark.api import load_table
    from parquet_on_fhir_spark.operators.curation import split_corpus
    from parquet_on_fhir_spark.operators.text import chunk_documents, quality_score
    from parquet_on_fhir_spark.streaming.jobs import run_to_memory

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path_factory.mktemp("pofs_curation_stream"))
    d.coalesce(2).write.mode("overwrite").parquet(src)

    def prep(df):
        chunked = chunk_documents(df, "text", "doc_id", size=128, stride=96)
        scored = chunked.withColumn(
            "quality", F.round(quality_score("chunk_text") + F.lit(1e-9), 6)
        )
        return split_corpus(scored, {"train": 0.8, "val": 0.2}, "doc_id").select(
            "doc_id", "chunk_id", "chunk_start", "quality", "split"
        )

    batch = prep(d)
    stream = prep(spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src))
    got = run_to_memory(stream, "append")
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_streaming_incremental_dedup_foreachbatch(spark, tmp_path_factory, sf_dir):
    """Continuous-ingestion loop: each micro-batch is deduped against
    the base corpus PLUS everything previously accepted (foreachBatch
    reads its own sink), so a fresh doc arriving twice across batches is
    accepted exactly once and near/exact dups of the base never land."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from parquet_on_fhir_spark.api import load_table
    from parquet_on_fhir_spark.operators.dedup import incremental_dedup

    kept = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = kept.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker words")).alias("text"),
    )
    fresh1 = spark.createDataFrame(
        [(3000001, "zq alpha unseen ingest words one qz"),
         (3000002, "zq beta unseen ingest words two qz")],
        "doc_id long, text string",
    )
    exact = kept.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    # fresh1 re-arrives in batch 2 under NEW ids (same text) + one new doc
    fresh2 = spark.createDataFrame(
        [(4000001, "zq alpha unseen ingest words one qz"),
         (4000002, "zq gamma unseen ingest words three qz")],
        "doc_id long, text string",
    )
    src = str(tmp_path_factory.mktemp("pofs_ingest_dedup"))
    near.unionAll(fresh1).coalesce(1).write.mode("overwrite").parquet(f"{src}/b0")
    exact.unionAll(fresh2).coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")
    # FileStreamSource orders micro-batches by file mtime; pin distinct
    # mtimes explicitly so b0 strictly precedes b1 even on filesystems
    # with coarse timestamp granularity (a sleep alone is flaky).
    now = _time.time()
    for sub, ts in (("b0", now - 120), ("b1", now - 60)):
        for root, _dirs, files in os.walk(f"{src}/{sub}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (ts, ts))
    accepted_dir = str(tmp_path_factory.mktemp("pofs_accepted")) + "/out"

    def ingest(batch_df, batch_id):
        base = kept
        if os.path.isdir(accepted_dir):
            base = base.unionAll(batch_df.sparkSession.read.parquet(accepted_dir))
        ok = incremental_dedup(batch_df, base, "text", "doc_id", jaccard_threshold=0.4)
        ok.write.mode("append").parquet(accepted_dir)

    ck = str(tmp_path_factory.mktemp("pofs_ingest_ck"))
    q = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["doc_id"] for r in spark.read.parquet(accepted_dir).collect())
    # fresh1 accepted in batch 1; its re-arrival (4000001) rejected as an
    # exact dup of the accepted set; 4000002 is new; near/exact dups of
    # the base never accepted
    assert got == [3000001, 3000002, 4000002]
