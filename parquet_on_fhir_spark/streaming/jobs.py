"""Streaming run helpers: file-stream sources over the test tables and
a run-to-completion harness (AvailableNow trigger + memory sink).

At production scale the source would be Kafka/files-on-object-store and
the sink a Delta/parquet table with checkpointing; the query graphs are
identical — only ``format(...)`` changes.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_COUNTER = itertools.count()
_SRC_CACHE: dict[str, str] = {}
_SCRATCH_DIRS: list[str] = []

#: run_to_memory temporarily rewrites the SESSION-global
#: spark.sql.shuffle.partitions while a stream starts (the stream pins
#: its own value at start; the conf is restored after termination).  Any
#: query planned concurrently in the same session would silently inherit
#: the small stream value, so the set→start→restore span is serialized.
_STREAM_CONF_LOCK = threading.Lock()


@atexit.register
def _cleanup_scratch() -> None:
    """tmpfs checkpoints, staged stream sources and suite scratch
    tables accumulate across a long test/bench session (RAM-backed in
    the /dev/shm case); remove whatever per-run cleanup missed."""
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str, base: str | None = None) -> str:
    """A fresh ``mkdtemp`` directory, removed at process exit. For
    scratch whose files a returned lazy frame still reads, so the
    caller cannot remove it itself."""
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    _SCRATCH_DIRS.append(d)
    return d


def _ckpt_dir() -> str:
    """Checkpoint scratch dir. Micro-batch latency at toy scale is
    dominated by state-store/commit-log fsyncs; a memory-backed tmpfs
    (when the host has one) removes that fixed cost without touching
    query semantics. Production checkpoints belong on durable storage —
    this helper is for run-to-completion test/bench streams whose
    checkpoints are discarded (rmtree'd right after awaitTermination,
    with an atexit sweep as backstop)."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return scratch_dir("pofs_ckpt_", base)

EVENTS_LONG_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _stage_parquet(path: str, dest: str) -> None:
    """Stage a parquet table into ``dest`` for a file-stream source.
    The driver's testdata are single ``.parquet`` FILES, but
    Spark-written tables (scale_probe replicas, user pipelines) are
    DIRECTORIES of part files — copy whichever shape ``path`` is."""
    import pathlib

    p = pathlib.Path(path)
    if p.is_dir():
        # rglob, not glob: a partitioned Spark table keeps its part
        # files under key=value subdirectories — a top-level glob would
        # stage ZERO files and the stream would silently read 0 rows.
        # Flat staging loses the partition-column values (they live in
        # the directory names), so refuse quietly-empty stages either
        # way.
        staged = 0
        for i, f in enumerate(sorted(p.rglob("*.parquet"))):
            shutil.copy(f, os.path.join(dest, f"part_{i:05d}_{f.name}"))
            staged += 1
        if staged == 0:
            raise FileNotFoundError(
                f"no .parquet part files found under directory {path!r} "
                f"— nothing to stage for the file-stream source"
            )
        if any(
            "=" in part.name for part in p.rglob("*") if part.is_dir()
        ):
            import warnings

            warnings.warn(
                f"staging partitioned table {path!r} flat: partition "
                f"columns encoded in directory names are NOT recovered",
                stacklevel=2,
            )
    else:
        shutil.copy(p, dest)


def _ts_micros_expr(path: str):
    """ts-normalization for a staged events file: the stream reads the
    raw INT64 (schema pins ts BIGINT) and converts JVM-side, because the
    stored unit is a property of the WRITER — footer-read per file like
    the batch loader (api.footer_schema), never assumed.  Nanos
    divide (integer truncation, matching DuckDB); micros convert
    directly.  Either way the result is a TIMESTAMP (LTZ, UTC session)
    as withWatermark requires."""
    from parquet_on_fhir_spark.api import footer_schema

    found = footer_schema(path)
    if found is not None and "ts" in found[1]:
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.timestamp_micros(F.col("ts"))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` as a file-stream source.

    The stream schema takes the raw int64 ``ts`` as LongType and
    normalizes to microsecond timestamps JVM-side (unit footer-sniffed —
    see :func:`_ts_micros_expr`), same normalization as the batch loader
    (api.load_table).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = _SRC_CACHE.get(sf_dir)
    if src is None:
        # one staged copy per sf_dir per process (the file-stream source
        # needs a directory it owns; the copy itself is immutable)
        src = scratch_dir("pofs_stream_src_")
        _stage_parquet(f"{sf_dir}/events.parquet", src)
        _SRC_CACHE[sf_dir] = src
    sdf = spark.readStream.schema(EVENTS_LONG_SCHEMA).parquet(src)
    return sdf.withColumn("ts", _ts_micros_expr(f"{sf_dir}/events.parquet"))


def _stage_events_split(sf_dir: str, n_files: int) -> str:
    """Stage ``events`` as ``n_files`` time-ordered parquet files with
    strictly increasing mtimes, so a file stream with
    ``maxFilesPerTrigger=1`` replays them as ``n_files`` deterministic
    micro-batches in event-time order (FileStreamSource lists oldest
    mtime first; ordered staging means no row is ever behind the
    watermark, so the batch oracle stays exact while state genuinely
    carries across batch boundaries)."""
    key = f"{sf_dir}#split{n_files}"
    src = _SRC_CACHE.get(key)
    if src is None:
        import pyarrow.parquet as pq

        tbl = pq.read_table(f"{sf_dir}/events.parquet").sort_by(
            [("ts", "ascending"), ("event_id", "ascending")]
        )
        src = scratch_dir("pofs_stream_split_")
        step = (tbl.num_rows + n_files - 1) // n_files
        base_mtime = 1_000_000_000  # arbitrary fixed epoch; only order matters
        for i in range(n_files):
            path = f"{src}/part-{i:03d}.parquet"
            pq.write_table(tbl.slice(i * step, step), path)
            os.utime(path, (base_mtime + i, base_mtime + i))
        _SRC_CACHE[key] = src
    return src


def stream_events_multibatch(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """``events`` as a file stream that AvailableNow replays as
    ``n_files`` micro-batches (``maxFilesPerTrigger=1`` over the staged
    time-ordered split) — exercises cross-batch state retention and
    watermark advancement, not just single-batch semantics."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = _stage_events_split(sf_dir, n_files)
    sdf = (
        spark.readStream.schema(EVENTS_LONG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # staged files inherit the source's unit (pyarrow rewrite): sniff the
    # staged dir, not the original file
    return sdf.withColumn("ts", _ts_micros_expr(src))


def run_foreach_batch_to_parquet(df: DataFrame, out_dir: str) -> None:
    """Exactly-once-style file sink via ``foreachBatch``: each micro-batch
    lands in a batch-id-named subdirectory, so retries overwrite their own
    directory instead of duplicating rows (the idempotent-sink pattern
    from the guide; a real deployment would use a transactional table
    format instead)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    ck = _ckpt_dir()
    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ck, ignore_errors=True)


def run_to_memory(
    df: DataFrame, output_mode: str = "complete", state_partitions: int | None = 8
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a
    uniquely-named memory sink; return the sink contents as a batch DF.

    ``state_partitions`` right-sizes the stream's shuffle/state-store
    partition count for toy-scale runs (each state partition costs a
    store instance + per-batch commit files; 32 of them dominate a
    sub-second micro-batch). The stream pins its own partitioning at
    start, so the session conf is restored immediately after. Pass None
    to inherit the session value (what a production-sized job would
    tune).
    """
    name = f"pofs_sink_{next(_COUNTER)}"
    ck = _ckpt_dir()
    spark = df.sparkSession
    # Serialize the conf set→start→restore span: the shuffle-partitions
    # rewrite is session-global, and a concurrently-planned query would
    # silently inherit the stream-sized value (see _STREAM_CONF_LOCK).
    with _STREAM_CONF_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            q = (
                df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            # restore only after termination: micro-batches are planned
            # (and read the session conf) asynchronously after start()
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(ck, ignore_errors=True)
    return spark.table(name)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` as a file-stream source (one staged immutable copy
    per sf_dir, like :func:`stream_events`) — the incremental-corpus
    entry point for streaming curation pipelines."""
    key = f"{sf_dir}::documents"
    src = _SRC_CACHE.get(key)
    if src is None:
        src = scratch_dir("pofs_stream_docs_")
        _stage_parquet(f"{sf_dir}/documents.parquet", src)
        _SRC_CACHE[key] = src
    schema = (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT"
    )
    return spark.readStream.schema(schema).parquet(src)
