"""Structured Streaming skins over the batch-round engine.

The reference is a continuous pull loop (engine.go:217-247) — an
unbounded stream with no event-time semantics.  The rebuild's primary
mode is batch rounds (SURVEY.md §2.6); these wrappers give the
crawl's logs and their rollups a streaming surface:

- ``stream_fetch_log_metrics``: a live metrics query over the growing
  fetch_log directory (file-source stream + stateful aggregation) — the
  streaming rendering of the reference's stats watcher
  (stats.go:143-205 + events.go:102-148).
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from tegenaria_spark.schemas import FETCH_LOG_SCHEMA


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


def fetch_log_stream(spark: SparkSession, store_root: str) -> DataFrame:
    """readStream over the store's fetch_log appends (new round dirs
    appear as the crawl progresses; the file source picks them up)."""
    return (
        spark.readStream.schema(FETCH_LOG_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "64")
        .parquet(f"{store_root}/logs/fetch_log")
    )


def stream_fetch_log_metrics(
    spark: SparkSession,
    store_root: str,
    checkpoint_dir: str,
    query_name: str = "fetch_metrics",
):
    """Continuous outcome/status counters (stats.go:39-48 as a stateful
    streaming aggregation).  Complete-mode memory sink: read the live
    counters with ``spark.sql(f"SELECT * FROM {query_name}")``."""
    agg = (
        fetch_log_stream(spark, store_root)
        .groupBy("outcome")
        .agg(F.count("*").alias("n"), F.max("round").alias("last_round"))
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


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


def stream_windowed_counts_watermarked(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    ckpt_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> None:
    """Watermarked APPEND-mode windowed counts — the unbounded-stream
    form of A3: a window is emitted exactly once, when the watermark
    passes its end, and events arriving later than *watermark* behind
    the observed max event time are DROPPED (never re-open an emitted
    window).  State is bounded by the watermark horizon — the property
    that lets a 100 TB/day fetch-log stream run forever, unlike the
    complete-mode variant whose state grows with distinct windows.

    One ``availableNow`` drain per call; call again as new files land
    in *in_dir* — the shared checkpoint carries the watermark across
    drains (restart-safe, exactly-once through the parquet sink commit
    log).  Results accumulate in *out_dir* (parquet).
    """
    batch_schema = spark.read.parquet(in_dir).schema
    agg = (
        spark.readStream.schema(batch_schema)
        .parquet(in_dir)
        # watermarks require TIMESTAMP (tz-aware); parquet written from
        # naive pandas timestamps arrives as TIMESTAMP_NTZ
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"), F.col(key_col), F.col("n")
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    # a second drain against the same checkpoint must not race this one
    _await_drain(q, "stream_windowed_counts_watermarked")
