"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference keeps its live counters as mutable in-process state
(stats.go:143-205 atomic uint64 maps, watched continuously by the event
loop).  Structured Streaming's built-in aggregations cover the
sum/count shapes (streaming/rounds.py); this module is the surface for
operators whose per-key state machine the built-ins CAN'T express —
arbitrary python state per key, updated batch-by-batch with Arrow
transfer, the Spark-idiomatic replacement for a hand-rolled stateful
loop.

``stream_running_counts`` is the canonical instance: per-key running
totals that survive across micro-batches (the stats watcher as a keyed
state machine).  It doubles as the plumbing template for richer states
(per-domain crawl sessions, rate windows, backoff machines): swap the
state tuple and the update function, keep the wiring.
"""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401  (callers compose with it)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tegenaria_spark.streaming.rounds import _drain, _parquet_stream


def stream_running_counts(
    spark: SparkSession,
    path: str,
    key_col: str,
    checkpoint_dir: str,
    query_name: str = "running_counts",
):
    """Per-key running row counts over a parquet-directory stream,
    maintained as explicit GroupState and emitted on every update.

    Returns the started query (drained with ``availableNow``).  Read
    results from the memory sink: because counts are cumulative, the
    final value per key is ``max(n)`` regardless of how many
    micro-batches the file source split the input into."""
    import pandas as pd

    sdf = _parquet_stream(spark, path)

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"key": [key[0]], "n": [total]})

    out = sdf.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType="key string, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def final_counts(spark: SparkSession, query_name: str) -> DataFrame:
    """The settled per-key totals from a drained ``stream_running_counts``
    memory sink (cumulative ⇒ max per key)."""
    return (
        spark.table(query_name)
        .groupBy("key")
        .agg(F.max("n").alias("n"))
    )


def stream_running_counts_drained(
    spark: SparkSession, path: str, key_col: str
) -> DataFrame:
    """Self-contained drain of :func:`stream_running_counts`: fresh
    tmpfs checkpoint, ``availableNow`` drain, settled per-key totals —
    the GroupState path's driver-contract surface (its totals must
    equal the batch ``groupBy(key).count()``, whatever micro-batch
    split the file source chose)."""
    import uuid

    name = f"src_{uuid.uuid4().hex[:8]}"
    _drain(
        lambda ckpt: stream_running_counts(spark, path, key_col, ckpt, query_name=name),
        "stream_running_counts_drained",
    )
    return final_counts(spark, name)
