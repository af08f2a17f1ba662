"""Multi-micro-batch streaming semantics: state carries across batches,
dedup spans batches, checkpoint reuse is idempotent. Files are fed one
per trigger (maxFilesPerTrigger=1) so the pipeline genuinely runs
several micro-batches."""

import pytest
import time

from pyspark.sql import functions as F

from parquet_on_fhir_spark.api import load_table
from parquet_on_fhir_spark.streaming.stateful import running_user_totals


def _three_batch_source(tmp_path_factory, spark, sf_dir):
    """events split into 3 files with increasing mtimes → 3 micro-batches."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path_factory.mktemp("mb_src"))
    for i, (lo, hi) in enumerate([(0, 300), (300, 600), (600, 10**9)]):
        part = e.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
        part.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}")
        time.sleep(0.05)  # distinct modification times → stable batch order
    paths = [f"{src}/b{i}" for i in range(3)]
    return e, src, paths


def _stream(spark, src_glob, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_glob)
    )


def _run(tmp_path_factory, df, mode, name, ck=None):
    ck = ck or str(tmp_path_factory.mktemp("mb_ck"))
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ck


def test_stateful_totals_accumulate_across_batches(spark, tmp_path_factory, sf_dir):
    e, src, paths = _three_batch_source(tmp_path_factory, spark, sf_dir)
    schema = e.schema
    s = _stream(spark, f"{src}/b*", schema)
    out = running_user_totals(s)
    _run(tmp_path_factory, out, "update", "mb_state")
    sink = spark.table("mb_state")
    # several micro-batches → users emit multiple running updates
    assert sink.count() > sink.select("user_id").distinct().count()
    # the LAST update per user equals the batch-mode ground truth
    last = sink.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    truth = e.groupBy("user_id").agg(F.count("*").alias("expect"))
    diff = (
        last.join(truth, "user_id")
        .filter(F.col("n_events") != F.col("expect"))
        .count()
    )
    assert diff == 0


def test_streaming_dedup_spans_batches(spark, tmp_path_factory, sf_dir):
    e, src, paths = _three_batch_source(tmp_path_factory, spark, sf_dir)
    s = _stream(spark, f"{src}/b*", e.schema)
    dedup = s.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    _run(tmp_path_factory, dedup, "append", "mb_dedup")
    got = spark.table("mb_dedup")
    expect = e.select("user_id", "event_type").distinct()
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0


def test_checkpoint_reuse_is_idempotent(spark, tmp_path_factory, sf_dir):
    e, src, paths = _three_batch_source(tmp_path_factory, spark, sf_dir)
    s = _stream(spark, f"{src}/b*", e.schema)
    agg = s.groupBy("event_type").agg(F.count("*").alias("n"))
    ck = _run(tmp_path_factory, agg, "complete", "mb_idem1")
    first = {r.event_type: r.n for r in spark.table("mb_idem1").collect()}
    # re-run against the SAME checkpoint and source: no new data → the
    # restarted query must not double-count
    s2 = _stream(spark, f"{src}/b*", e.schema)
    agg2 = s2.groupBy("event_type").agg(F.count("*").alias("n"))
    _run(tmp_path_factory, agg2, "complete", "mb_idem2", ck=ck)
    second = {r.event_type: r.n for r in spark.table("mb_idem2").collect()}
    truth = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert first == truth
    assert second in ({}, truth)  # nothing new: empty sink or identical counts


@pytest.mark.slow
def test_watermark_drops_late_data(spark, tmp_path_factory):
    """Run 1 processes recent data and advances the watermark (persisted
    in the checkpoint); run 2 (same checkpoint) sees only too-late rows,
    which must be dropped — their window never emits with late counts."""
    src = str(tmp_path_factory.mktemp("wm_src"))
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT"
    recent = spark.createDataFrame(
        [(i, f"2024-01-10 12:{i:02d}:00", 1) for i in range(10)],
        "event_id BIGINT, ts STRING, user_id BIGINT",
    ).select("event_id", F.col("ts").cast("timestamp"), "user_id")
    late = spark.createDataFrame(
        [(100 + i, f"2024-01-10 09:0{i}:00", 1) for i in range(3)],
        "event_id BIGINT, ts STRING, user_id BIGINT",
    ).select("event_id", F.col("ts").cast("timestamp"), "user_id")
    recent.coalesce(1).write.mode("overwrite").parquet(f"{src}/f0.parquet")

    def windowed(stream):
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
        )

    out = str(tmp_path_factory.mktemp("wm_out"))
    ck = str(tmp_path_factory.mktemp("wm_ck"))

    def run_to_files(stream):
        q = (
            windowed(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def source():
        # each mini-table is a directory; the file source needs the glob
        # to list the part files inside them
        return spark.readStream.schema(schema).parquet(f"{src}/*")

    run_to_files(source())

    # late file arrives AFTER run 1 completed; watermark (~11:59) is
    # restored from the checkpoint on restart. A 'closer' file with
    # newer events pushes the watermark past 13:00 so the 12:00 window
    # finalizes and the sink is non-empty.
    late.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1.parquet")
    closer = spark.createDataFrame(
        [(200 + i, f"2024-01-10 14:3{i}:00", 1) for i in range(3)],
        "event_id BIGINT, ts STRING, user_id BIGINT",
    ).select("event_id", F.col("ts").cast("timestamp"), "user_id")
    closer.coalesce(1).write.mode("overwrite").parquet(f"{src}/f2.parquet")
    run_to_files(source())

    # append mode emits a window one batch AFTER the watermark passes its
    # end (the batch-N watermark comes from batch N-1) — a third run
    # flushes the now-finalized 12:00 window; had the late rows been
    # (wrongly) accepted in run 2, the 09:00 window would flush here too
    flusher = spark.createDataFrame(
        [(300, "2024-01-10 15:00:00", 1)],
        "event_id BIGINT, ts STRING, user_id BIGINT",
    ).select("event_id", F.col("ts").cast("timestamp"), "user_id")
    flusher.coalesce(1).write.mode("overwrite").parquet(f"{src}/f3.parquet")
    run_to_files(source())

    emitted = {
        str(r["window"]["start"]): r["n"]
        for r in spark.read.parquet(out).collect()
    }
    # the recent window finalized with all 10 on-time rows…
    assert emitted.get("2024-01-10 12:00:00") == 10
    # …while the 09:00 window (end far behind the restored watermark)
    # never emits: its late rows were dropped
    assert emitted.get("2024-01-10 09:00:00", 0) == 0


def test_session_window_merges_across_batches(spark, tmp_path_factory, sf_dir):
    """Streaming session windows must MERGE sessions that span
    micro-batch boundaries: an event in batch 2 that lands within 30 min
    of a batch-1 session extends that session rather than opening a new
    one. Events are split by time (not id) so every user's session tail
    crosses the batch boundary; the final complete-mode result must equal
    the batch session_window over the union."""
    e, src, paths = _three_batch_source(tmp_path_factory, spark, sf_dir)
    # time-split: re-write 3 files partitioned by event time thirds
    src2 = str(tmp_path_factory.mktemp("mb_sess"))
    bounds = e.select(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    import time as _time
    lo, hi = bounds.lo, bounds.hi
    span = (hi - lo) / 3
    for i in range(3):
        upper = (F.col("ts") <= F.lit(hi)) if i == 2 else (
            F.col("ts") < F.lit(lo + (i + 1) * span)
        )
        part = e.filter((F.col("ts") >= F.lit(lo + i * span)) & upper)
        part.coalesce(1).write.mode("overwrite").parquet(f"{src2}/b{i}")
        _time.sleep(0.05)
    s = _stream(spark, f"{src2}/b*", e.schema)
    # withWatermark requires TIMESTAMP_LTZ; events.ts loads as NTZ.  The
    # session is UTC-pinned so the cast is wall-clock-identity; the batch
    # `expected` below gets the same cast so the window starts compare.
    s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        s.withWatermark("ts", "10 hours")  # generous: nothing dropped
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    _run(tmp_path_factory, agg, "complete", "mb_sessions")
    got = spark.table("mb_sessions").select(
        "user_id", F.col("session_window.start").alias("s"), "n"
    )
    expected = (
        e.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("session_window.start").alias("s"), "n")
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_stream_events_multibatch_replays_n_ordered_batches(spark, tmp_path_factory, sf_dir):
    """q56b's source contract: the staged split must replay as (at
    least) n_files non-empty micro-batches, in event-time order, with no
    rows lost — otherwise the 'multi-batch watermark' query would be
    silently single-batch."""
    from parquet_on_fhir_spark.streaming.jobs import stream_events_multibatch

    s = stream_events_multibatch(spark, sf_dir, n_files=4)
    seen = []

    def record(df, batch_id):
        row = df.agg(
            F.count("*").alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        seen.append((batch_id, row.n, row.lo, row.hi))

    ck = str(tmp_path_factory.mktemp("mbq_ck"))
    q = (
        s.writeStream.foreachBatch(record)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data = [x for x in seen if x[1] > 0]
    assert len(data) >= 4, f"expected >=4 data batches, got {len(data)}"
    total = sum(x[1] for x in data)
    assert total == load_table(spark, sf_dir, "events").count()
    # event-time ordering across batches: batch i's max ts <= batch i+1's min
    for (_, _, _, hi), (_, _, lo, _) in zip(data, data[1:]):
        assert hi <= lo


def test_streaming_cdc_apply_matches_global_fold(spark, tmp_path_factory, sf_dir):
    """The CDC merge loop over N micro-batches must land on exactly the
    state a single batch fold over ALL changes produces — per-key latest
    wins across batch boundaries, and keys whose latest change is a
    tombstone (event_type == 'error') leave the table."""
    import shutil

    from parquet_on_fhir_spark.operators.upsert import fold_cdc_latest
    from parquet_on_fhir_spark.streaming.cdc import (
        read_cdc_table,
        stream_apply_cdc,
    )
    from parquet_on_fhir_spark.streaming.jobs import stream_events_multibatch

    def shape(df):
        return df.select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            (F.col("event_type") == "error").alias("is_delete"),
        )

    target = str(tmp_path_factory.mktemp("pofs_cdc_target"))
    try:
        stream = shape(stream_events_multibatch(spark, sf_dir, n_files=4))
        stream_apply_cdc(
            stream, target, keys=["user_id"], seq_col="event_id",
            delete_col="is_delete",
        )
        got = read_cdc_table(spark, target)
        assert got is not None

        all_changes = shape(load_table(spark, sf_dir, "events"))
        expected = fold_cdc_latest(
            all_changes, ["user_id"], "event_id", delete_col="is_delete"
        )
        g = {r.user_id: (r.event_id, r.event_type, r.value) for r in got.collect()}
        e = {r.user_id: (r.event_id, r.event_type, r.value) for r in expected.collect()}
        assert g == e and g  # non-trivial state survived 4 merges
        # at least one key was tombstoned along the way or at the end
        n_users = all_changes.select("user_id").distinct().count()
        assert len(g) < n_users
    finally:
        shutil.rmtree(target, ignore_errors=True)


def test_cdc_batch_replay_is_idempotent(spark, tmp_path_factory):
    """Replaying the same batch_id (foreachBatch's retry contract) must
    leave the published table unchanged."""
    import shutil

    from parquet_on_fhir_spark.streaming.cdc import (
        apply_cdc_batch,
        read_cdc_table,
    )

    target = str(tmp_path_factory.mktemp("pofs_cdc_target"))
    try:
        b0 = spark.createDataFrame(
            [(1, 10, "a", False), (2, 11, "b", False)],
            "k int, seq int, v string, del boolean",
        )
        apply_cdc_batch(b0, 0, target, ["k"], "seq", "del")
        b1 = spark.createDataFrame(
            [(1, 20, "a2", False), (2, 21, None, True), (3, 22, "c", False)],
            "k int, seq int, v string, del boolean",
        )
        apply_cdc_batch(b1, 1, target, ["k"], "seq", "del")
        first = {r.k: (r.seq, r.v) for r in read_cdc_table(spark, target).collect()}
        assert first == {1: (20, "a2"), 3: (22, "c")}  # key 2 tombstoned
        apply_cdc_batch(b1, 1, target, ["k"], "seq", "del")  # retry
        again = {r.k: (r.seq, r.v) for r in read_cdc_table(spark, target).collect()}
        assert again == first
    finally:
        shutil.rmtree(target, ignore_errors=True)


def test_cdc_schema_drift_raises(spark, tmp_path_factory):
    """A batch whose columns differ from the published table must fail,
    not silently drop or null-fill a column in the merged table."""
    import shutil

    from parquet_on_fhir_spark.streaming.cdc import (
        apply_cdc_batch,
        read_cdc_table,
    )

    target = str(tmp_path_factory.mktemp("pofs_cdc_target"))
    try:
        b0 = spark.createDataFrame(
            [(1, 10, "a", False)], "k int, seq int, v string, del boolean"
        )
        apply_cdc_batch(b0, 0, target, ["k"], "seq", "del")
        b1 = spark.createDataFrame(
            [(2, 11, "b", 7, False)], "k int, seq int, v string, w int, del boolean"
        )
        with pytest.raises(ValueError, match=r"adds \['w'\].*missing \[\]"):
            apply_cdc_batch(b1, 1, target, ["k"], "seq", "del")
        (row,) = read_cdc_table(spark, target).collect()  # v=0 still published
        assert (row.k, row.v) == (1, "a")
    finally:
        shutil.rmtree(target, ignore_errors=True)


def test_cdc_retention_prunes_old_versions(spark, tmp_path_factory):
    import os
    import shutil

    from parquet_on_fhir_spark.streaming.cdc import (
        apply_cdc_batch,
        read_cdc_table,
    )

    target = str(tmp_path_factory.mktemp("pofs_cdc_target"))
    try:
        for bid in range(4):
            b = spark.createDataFrame(
                [(1, bid, f"v{bid}", False)], "k int, seq int, v string, del boolean"
            )
            apply_cdc_batch(b, bid, target, ["k"], "seq", "del", keep_versions=2)
        versions = sorted(d for d in os.listdir(target) if d.startswith("v="))
        assert versions == ["v=2", "v=3"]  # older copies pruned
        (row,) = read_cdc_table(spark, target).collect()
        assert row.v == "v3"
    finally:
        shutil.rmtree(target, ignore_errors=True)


def test_drop_duplicates_within_watermark_cross_batch(spark, sf_dir):
    """q57c's operator over REAL micro-batches (r12): with a delay
    wider than the event-time span, dropDuplicatesWithinWatermark over
    4 sequential batches emits each (user_id, event_type) key exactly
    once — cross-batch dedup state survives and is keyed by first-seen
    event time, unlike plain dropDuplicates' forever-state."""
    import duckdb
    from pyspark.sql import functions as F

    from parquet_on_fhir_spark.streaming.jobs import (
        run_to_memory,
        stream_events_multibatch,
    )

    s = stream_events_multibatch(spark, sf_dir, n_files=4)
    dedup = (
        s.withWatermark("ts", "87600 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    got = run_to_memory(dedup, "append")
    rows = {(r.user_id, r.event_type) for r in got.collect()}
    assert got.count() == len(rows), "a key was emitted twice"
    want = {
        (r[0], r[1])
        for r in duckdb.sql(
            "SELECT DISTINCT user_id, event_type FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    }
    assert rows == want
