"""Structured Streaming skins over the batch-round engine.

The reference is a continuous pull loop (engine.go:217-247) — an
unbounded stream with no event-time semantics.  The rebuild's primary
mode is batch rounds (SURVEY.md §2.6); these wrappers give the
crawl's rollups a streaming surface.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def _parquet_stream(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a parquet directory or a single parquet file,
    with the batch schema.  The file stream source requires a directory,
    so a file streams its parent dir with a glob pinned to its name."""
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if os.path.isfile(path):
        path, fname = os.path.split(path)
        reader = reader.option("pathGlobFilter", fname)
    return reader.parquet(path)


def _await_drain(q, what: str) -> None:
    """Wait for an ``availableNow`` query to finish.  awaitTermination
    (timeout) returns False on timeout with the query STILL RUNNING —
    returning then would hand back a partial result and let the caller
    delete or reuse the checkpoint under it (r3 ADVICE).  Stop and
    raise."""
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(f"{what}: availableNow drain did not complete within 600 s")


def _drain(start, what: str) -> None:
    """Run ``start(checkpoint_dir)`` — which starts an ``availableNow``
    query — on a fresh checkpoint that is deleted afterwards, and wait
    for the drain.  tmpfs for the checkpoint: the commit log is many
    tiny fsync'd writes — on the VM disk they dominate the drain wall."""
    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    with tempfile.TemporaryDirectory(prefix="drain-ckpt-", dir=ckpt_base) as ckpt:
        _await_drain(start(ckpt), what)


def stream_windowed_counts(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 day",
) -> DataFrame:
    """Event-time tumbling-window counts as a Structured Streaming job
    over a parquet directory, drained with ``availableNow`` — the
    streaming rendering of the A3 count-over-time rollup (stats.go
    count-over-time via InfluxDB).  Returns the final BATCH DataFrame of
    the aggregation (the memory sink's table), so callers — including
    the driver's oracle gate — can compare it 1:1 against the batch
    ``groupBy(to_date(ts))`` form.

    Complete-mode stateful aggregation: deterministic for any file
    order (no watermark-dependent late-data drops; watermarks matter
    for unbounded streams — this surface certifies the stateful
    streaming plan itself)."""
    agg = (
        _parquet_stream(spark, path)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.to_date(F.col("win.start")).alias("day"), F.col(key_col), F.col("n")
        )
    )
    name = f"swc_{uuid.uuid4().hex[:8]}"
    _drain(
        lambda ckpt: agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(),
        "stream_windowed_counts",
    )
    return spark.table(name)
