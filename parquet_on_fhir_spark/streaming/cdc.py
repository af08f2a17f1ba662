"""Streaming CDC apply: maintain a keyed parquet table from a change
stream — the "materialized view over a changelog" every warehouse
mirrors (Debezium → table), built from this repo's batch primitives
(operators/upsert.py) inside a ``foreachBatch`` loop.

Versioned-directory sink: plain parquet cannot be atomically replaced
while readers scan it, so every batch writes a NEW ``v=<batch_id>``
directory and then flips a one-line ``_LATEST`` pointer file — readers
resolve the pointer and only ever see a fully-written version (the
poor-man's snapshot isolation a transactional table format provides
natively; on a cluster with Delta/Iceberg the foreachBatch body becomes
a single MERGE INTO and this module's plumbing disappears).

Scale shape per batch: fold the micro-batch to latest-per-key (one
shuffle of BATCH rows — small), then one LEFT ANTI join of the target
on the batch's key set (AQE broadcasts the folded batch against the
100 TB target; the target is never shuffled) and a unionByName. Deletes
are honored: a key whose latest change is flagged deleted leaves the
table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from parquet_on_fhir_spark.operators.upsert import fold_cdc_latest


def _pointer_path(target_dir: str) -> str:
    return os.path.join(target_dir, "_LATEST")


def _current_version(target_dir: str) -> str | None:
    """Directory of the published version (None before the first batch)."""
    ptr = _pointer_path(target_dir)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return os.path.join(target_dir, fh.read().strip())


def read_cdc_table(
    spark: SparkSession, target_dir: str, schema=None
) -> DataFrame | None:
    """Read the current version of a CDC-maintained table (None before
    the first batch lands). ``schema`` skips parquet footer inference —
    the merge loop knows the table schema (it wrote it), and the
    inference pass is one extra job per micro-batch (r16, guide §1)."""
    version = _current_version(target_dir)
    if version is None:
        return None
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(version)


def _check_no_drift(version: str, columns: list[str]) -> None:
    """Raise if the batch's columns differ from the published table's.

    The merge reads the target with the batch schema, so a drifted
    batch would silently drop the columns it lacks and null-fill the
    ones it adds. The stored names come from the parquet footer
    (pyarrow, no Spark job)."""
    import pyarrow.dataset as ds

    stored = ds.dataset(version, format="parquet").schema.names
    added = sorted(set(columns) - set(stored))
    missing = sorted(set(stored) - set(columns))
    if added or missing:
        raise ValueError(
            f"CDC schema drift against {version}: batch adds {added}, "
            f"batch is missing {missing}"
        )


def apply_cdc_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_dir: str,
    keys: list[str],
    seq_col: str,
    delete_col: str | None = None,
    keep_versions: int = 2,
) -> None:
    """One merge round: fold the batch, anti-join the current version on
    the batch's keys, append the surviving upserts, publish as
    ``v=<batch_id>``. Idempotent under foreachBatch retries — a replayed
    batch_id rewrites ITS OWN version directory and re-flips the pointer
    to the same content.

    Retention: after the pointer flip, version directories older than
    the newest ``keep_versions`` are deleted — without this a
    long-running stream accumulates one full table copy per batch.
    ``keep_versions >= 2`` leaves a grace window for readers that
    resolved the pointer just before the flip; pass ``None`` to keep
    every version (time-travel debugging)."""
    spark = batch_df.sparkSession
    from pyspark.sql import functions as F

    # One fold computation per batch (r16, guide §2.3): the folded
    # batch feeds BOTH the anti-join key set and the upsert rows; a
    # lazy checkpoint makes the write job compute the window once (the
    # broadcast build materializes it, the union side reads the cut
    # lineage) instead of planning the fold twice.
    latest = fold_cdc_latest(batch_df, keys, seq_col, delete_col=None)
    latest = latest.localCheckpoint(eager=False)
    touched = latest.select(*keys)
    if delete_col is not None:
        upserts = latest.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        upserts = latest
    published = _current_version(target_dir)
    if published is not None:
        _check_no_drift(published, upserts.columns)
    current = read_cdc_table(spark, target_dir, schema=upserts.schema)
    version_dir = os.path.join(target_dir, f"v={batch_id}")
    if current is None:
        merged = upserts
    else:
        # the micro-batch key set is the SMALL side by construction
        # (the target is the 100 TB table): broadcast it explicitly so
        # the plan never considers shuffling the target (guide §3.1).
        merged = current.join(
            F.broadcast(touched), keys, "left_anti"
        ).unionByName(upserts)
        ptr = _pointer_path(target_dir)
        with open(ptr) as fh:
            if fh.read().strip() == f"v={batch_id}":
                # foreachBatch REPLAY: the published version IS this
                # batch's own directory, so the overwrite below would
                # delete the files the scan reads. (The pre-r16 plan
                # survived this only by accident: the un-hinted join
                # shuffled the whole target through a map stage before
                # the write job deleted it.) Materialize off the files
                # first — retry-only cost, the steady path stays a
                # single scan-join-write pass.
                merged = merged.localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(version_dir)
    tmp = _pointer_path(target_dir) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(f"v={batch_id}")
    os.replace(tmp, _pointer_path(target_dir))  # atomic pointer flip
    if keep_versions is not None:
        import shutil

        versions = sorted(
            (int(d.split("=", 1)[1]), d)
            for d in os.listdir(target_dir)
            if d.startswith("v=")
        )
        for _, stale in versions[:-keep_versions]:
            shutil.rmtree(os.path.join(target_dir, stale), ignore_errors=True)


def stream_apply_cdc(
    changes: DataFrame,
    target_dir: str,
    keys: list[str],
    seq_col: str,
    delete_col: str | None = None,
    checkpoint_dir: str | None = None,
    keep_versions: int = 2,
) -> None:
    """Run a change stream to completion (AvailableNow) through the CDC
    merge loop. ``changes`` is any streaming DataFrame whose rows are
    upserts (plus optional ``delete_col`` tombstones); ``seq_col``
    orders changes within a key (use a unique monotone id for exact
    replay determinism)."""
    import shutil
    import tempfile

    os.makedirs(target_dir, exist_ok=True)
    ck = checkpoint_dir or tempfile.mkdtemp(prefix="pofs_cdc_ck_")

    def body(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            batch_df, batch_id, target_dir, keys, seq_col, delete_col,
            keep_versions=keep_versions,
        )

    q = (
        changes.writeStream.foreachBatch(body)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if checkpoint_dir is None:
        shutil.rmtree(ck, ignore_errors=True)
