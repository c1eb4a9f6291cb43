"""Structured Streaming skins over the crawl's rollups."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tegenaria_spark.streaming.rounds import stream_windowed_counts
from tegenaria_spark.streaming.stateful import stream_running_counts_drained


def test_stream_windowed_counts_matches_batch(spark):
    """The Structured Streaming tumbling-window rollup equals the batch
    to_date groupBy — the A3 streaming skin's contract."""
    from tegenaria_spark.streaming.rounds import stream_windowed_counts

    path = "/root/testdata/sf0.001/events.parquet"
    got = {
        (str(r["day"]), r["event_type"]): r["n"]
        for r in stream_windowed_counts(spark, path).collect()
    }
    batch = {
        (str(r["day"]), r["event_type"]): r["n"]
        for r in spark.read.parquet(path)
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_stateful_running_counts_matches_batch(spark):
    """applyInPandasWithState per-key state machine: running totals over
    the events stream settle to the batch groupBy counts."""
    import tempfile

    from tegenaria_spark.streaming.stateful import final_counts, stream_running_counts

    path = "/root/testdata/sf0.001/events.parquet"
    with tempfile.TemporaryDirectory() as ckpt:
        q = stream_running_counts(spark, path, "event_type", ckpt, query_name="rc_test")
        q.awaitTermination(120)
    got = {r["key"]: r["n"] for r in final_counts(spark, "rc_test").collect()}
    batch = {
        r["event_type"]: r["count"]
        for r in spark.read.parquet(path).groupBy("event_type").count().collect()
    }
    assert got == batch


@pytest.mark.parametrize(
    "drain",
    [
        lambda spark, path: stream_windowed_counts(spark, path),
        lambda spark, path: stream_running_counts_drained(spark, path, "event_type"),
    ],
    ids=["windowed", "running"],
)
def test_drain_timeout_stops_query_and_raises(spark, monkeypatch, tmp_path, drain):
    """awaitTermination(timeout) returns False with the query still
    running: a drain must stop it and raise, never hand back a partial
    table while its deleted checkpoint is still in use."""
    from pyspark.sql.streaming.query import StreamingQuery

    path = str(tmp_path / "events")
    spark.createDataFrame(
        [("2024-01-01 00:00:00", "view"), ("2024-01-02 00:00:00", "click")],
        "ts string, event_type string",
    ).select(F.to_timestamp("ts").alias("ts"), "event_type").write.parquet(path)
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    with pytest.raises(TimeoutError):
        drain(spark, path)
    assert not spark.streams.active
