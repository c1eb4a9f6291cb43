"""Structured Streaming skins over the engine's stores."""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
import pytest

from tegenaria_spark.config import EngineConfig
from tegenaria_spark.plans.engine import CrawlEngine
from tegenaria_spark.sources.store import LocalSnapshotStore
from tegenaria_spark.sources.synth import SiteConfig, seed_urls
from tegenaria_spark.streaming.rounds import stream_fetch_log_metrics, stream_windowed_counts
from tegenaria_spark.streaming.stateful import stream_running_counts_drained

CFG = EngineConfig(shuffle_partitions=4)


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


def test_fetch_log_metrics_stream_matches_batch(spark, tmp_store_dir):
    site = SiteConfig(n_domains=2, pages_per_domain=6)
    store = LocalSnapshotStore(tmp_store_dir, spark)
    engine = CrawlEngine(spark, store, site, CFG)
    engine.run(seed_urls(site, n_seeds=4), max_rounds=2)

    with tempfile.TemporaryDirectory() as ckpt:
        q = stream_fetch_log_metrics(spark, tmp_store_dir, ckpt, query_name="fm_test")
        q.awaitTermination(120)

    streamed = {
        r["outcome"]: r["n"] for r in spark.sql("SELECT * FROM fm_test").collect()
    }
    batch = {
        r["outcome"]: r["count"]
        for r in store.read_log("fetch_log").groupBy("outcome").count().collect()
    }
    assert streamed == batch


def test_watermarked_late_data_dropped(spark, tmp_store_dir):
    """Append-mode + watermark: a window emits once when the watermark
    passes it, and an event arriving far behind the watermark is
    dropped — it must not re-open or re-emit the finalized window."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tegenaria_spark.streaming.rounds import stream_windowed_counts_watermarked

    in_dir = os.path.join(tmp_store_dir, "in")
    out_dir = os.path.join(tmp_store_dir, "out")
    ckpt = os.path.join(tmp_store_dir, "ckpt")
    os.makedirs(in_dir)

    t0 = pd.Timestamp("2026-01-01 00:00:00")

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["ts", "event_type"])
        # Spark cannot read TIMESTAMP(NANOS) parquet — write micros
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), f"{in_dir}/{name}")

    # batch 1: two events in hour-0, one in hour-1, max ts 02:50 —
    # watermark (30 min) lands at 02:20, finalizing hours 0 and 1
    write("b1.parquet", [
        (t0 + pd.Timedelta(minutes=5), "a"),
        (t0 + pd.Timedelta(minutes=40), "a"),
        (t0 + pd.Timedelta(minutes=70), "a"),
        (t0 + pd.Timedelta(minutes=170), "a"),
    ])
    stream_windowed_counts_watermarked(spark, in_dir, out_dir, ckpt)
    first = {
        (r.win_start.isoformat(), r.event_type): r.n
        for r in spark.read.parquet(out_dir).collect()
    }
    assert first[("2026-01-01T00:00:00", "a")] == 2
    assert first[("2026-01-01T01:00:00", "a")] == 1

    # batch 2: one LATE event in already-finalized hour-0 (behind the
    # 02:20 watermark -> dropped) plus a fresh hour-4 event that pushes
    # the watermark past hour 2
    write("b2.parquet", [
        (t0 + pd.Timedelta(minutes=10), "a"),      # late: dropped
        (t0 + pd.Timedelta(minutes=250), "a"),     # fresh
    ])
    stream_windowed_counts_watermarked(spark, in_dir, out_dir, ckpt)
    final = {}
    for r in spark.read.parquet(out_dir).collect():
        key = (r.win_start.isoformat(), r.event_type)
        assert key not in final, f"window {key} emitted twice"
        final[key] = r.n
    assert final[("2026-01-01T00:00:00", "a")] == 2  # late event NOT counted
    assert final[("2026-01-01T02:00:00", "a")] == 1  # hour-2 finalized by batch 2


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
