"""Snapshot store protocol: atomic markers, resume reads, lineage."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from tegenaria_spark.schemas import URL_SEEN_SCHEMA
from tegenaria_spark.sources.store import CommitConflictError, LocalSnapshotStore


def _seen(spark, fps, rnd=0):
    return spark.createDataFrame([(f, rnd) for f in fps], URL_SEEN_SCHEMA)


def test_commit_marker_is_the_visibility_point(spark, tmp_store_dir):
    store = LocalSnapshotStore(tmp_store_dir, spark)
    assert store.last_committed_round() is None
    frontier = _seen(spark, [1, 2, 3])
    sid, counts = store.commit_round(
        0, frontier, _seen(spark, [1, 2, 3]), {}, {"phase": "t"}
    )
    assert store.last_committed_round() == 0
    assert sid.startswith("snap-0-")
    assert counts["frontier"] == 3 and counts["url_seen"] == 3

    # orphan data without a marker is invisible
    os.makedirs(store._state_path("frontier", 5), exist_ok=True)
    assert store.last_committed_round() == 0


def test_url_seen_union_and_total(spark, tmp_store_dir):
    store = LocalSnapshotStore(tmp_store_dir, spark)
    f = _seen(spark, [0])
    store.commit_round(0, f, _seen(spark, [1, 2]), {}, {})
    store.commit_round(1, f, _seen(spark, [3], rnd=1), {}, {})
    got = {r["fp"] for r in store.read_url_seen(1).collect()}
    assert got == {1, 2, 3}
    assert {r["fp"] for r in store.read_url_seen(0).collect()} == {1, 2}
    assert store.url_seen_total(1) == 3  # from markers, no Spark job


def test_commit_overwrites_crashed_attempt(spark, tmp_store_dir):
    store = LocalSnapshotStore(tmp_store_dir, spark)
    f = _seen(spark, [9])
    # simulate a crashed round-0 attempt: data dir exists, no marker
    path = store._state_path("frontier", 0)
    os.makedirs(path, exist_ok=True)
    open(os.path.join(path, "garbage"), "w").write("crash leftovers")
    sid, counts = store.commit_round(0, f, _seen(spark, [9]), {}, {})
    assert not os.path.exists(os.path.join(path, "garbage"))
    assert counts["frontier"] == 1


def test_marker_contents(spark, tmp_store_dir):
    store = LocalSnapshotStore(tmp_store_dir, spark)
    f = _seen(spark, [1])
    store.commit_round(0, f, _seen(spark, [1]), {}, {"phase": "bootstrap"})
    with open(os.path.join(tmp_store_dir, "commits", "round-0.json")) as fh:
        m = json.load(fh)
    assert m["round"] == 0
    assert m["stats"]["phase"] == "bootstrap"
    assert "row_counts" in m and "write_times" in m


def test_lineage_counts_match_rows(spark, tmp_store_dir):
    store = LocalSnapshotStore(tmp_store_dir, spark)
    f = _seen(spark, list(range(100)))
    store.commit_round(0, f, _seen(spark, list(range(100))), {}, {})
    lineage = store.read_log("lineage", 0)
    rows = lineage.collect()
    by_table = {}
    for r in rows:
        by_table[r["table"]] = by_table.get(r["table"], 0) + r["n_rows"]
    assert by_table["frontier"] == 100
    assert by_table["url_seen"] == 100

    # each frontier version is one self-contained snapshot: no bucket
    # dirs, no manifest, and no reference to an older version
    store.commit_round(1, _seen(spark, list(range(50, 150))), _seen(spark, [100], rnd=1), {}, {})
    assert not [d for d in os.listdir(store._state_path("frontier", 1)) if d.startswith("_fb=")]
    assert set(store._marker(1)) == {
        "round", "snapshot_id", "stats", "tables", "row_counts", "write_times"
    }
    before = sorted(r["fp"] for r in store.read_frontier(1).collect())
    assert before == list(range(50, 150))
    shutil.rmtree(store._state_path("frontier", 0))
    assert sorted(r["fp"] for r in store.read_frontier(1).collect()) == before


def test_multi_writer_commit_is_exclusive(spark, tmp_store_dir):
    """Two writers racing the SAME round on one root: exactly one
    commits; the loser raises CommitConflictError before touching any
    data dir, so the winner's committed data is intact (the Iceberg
    optimistic-catalog guarantee, realised as an O_EXCL claim +
    O_EXCL marker publish — store.py module docstring)."""
    import threading

    store_a = LocalSnapshotStore(tmp_store_dir, spark)
    store_b = LocalSnapshotStore(tmp_store_dir, spark)
    f = _seen(spark, [1, 2, 3])

    results: dict[str, object] = {}
    barrier = threading.Barrier(2)

    def attempt(name, store, fps):
        barrier.wait()
        try:
            sid, counts = store.commit_round(0, f, _seen(spark, fps), {}, {"w": name})
            results[name] = ("committed", sid, counts)
        except CommitConflictError as e:
            results[name] = ("conflict", str(e))

    ts = [
        threading.Thread(target=attempt, args=("a", store_a, [1, 2, 3])),
        threading.Thread(target=attempt, args=("b", store_b, [4, 5, 6, 7])),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)

    outcomes = sorted(v[0] for v in results.values())
    assert outcomes == ["committed", "conflict"], results
    winner = next(k for k, v in results.items() if v[0] == "committed")
    # the committed snapshot is the winner's, consistent with its marker
    m = store_a._marker(0)
    assert m["stats"]["w"] == winner
    assert store_a.read_url_seen(0).count() == m["row_counts"]["url_seen"]
    # no stale claim left behind
    assert not os.path.exists(store_a._claim_path(0))


def test_second_writer_conflicts_after_commit(spark, tmp_store_dir):
    """A round already committed is a conflict for any later attempt —
    and the conflicting attempt must leave the committed data intact."""
    store = LocalSnapshotStore(tmp_store_dir, spark)
    f = _seen(spark, [1])
    sid, _ = store.commit_round(0, f, _seen(spark, [1]), {}, {})
    with pytest.raises(CommitConflictError):
        store.commit_round(0, f, _seen(spark, [2]), {}, {})
    assert store._marker(0)["snapshot_id"] == sid
    assert {r["fp"] for r in store.read_url_seen(0).collect()} == {1}


def test_stale_claim_from_dead_writer_is_stolen(spark, tmp_store_dir):
    """A claim whose owner pid is gone (crashed writer) must not wedge
    the round forever — the next writer steals it and commits."""
    store = LocalSnapshotStore(tmp_store_dir, spark)
    f = _seen(spark, [1])
    with open(store._claim_path(0), "w") as fh:
        json.dump({"snapshot_id": "snap-0-deadbeef", "pid": 2**22 + 1234567}, fh)
    sid, _ = store.commit_round(0, f, _seen(spark, [1]), {}, {})
    assert store.last_committed_round() == 0


def test_read_log_schema_evolution_add_column(spark, tmp_store_dir):
    """A column added to an append table in a later round reads back
    with nulls for earlier rounds (add-column evolution on read)."""
    import pyspark.sql.functions as F

    store = LocalSnapshotStore(tmp_store_dir, spark)
    f = _seen(spark, [0])
    log0 = spark.createDataFrame([(0, "fetched")], "round INT, outcome STRING")
    store.commit_round(0, f, _seen(spark, [1]), {"fetch_log": log0}, {})
    log1 = spark.createDataFrame(
        [(1, "fetched", 200)], "round INT, outcome STRING, status INT"
    )
    store.commit_round(1, f, _seen(spark, [2], rnd=1), {"fetch_log": log1}, {})
    got = store.read_log("fetch_log", 1)
    assert "status" in got.columns
    rows = {r["round"]: r["status"] for r in got.collect()}
    assert rows == {0: None, 1: 200}


def test_concurrent_reader_snapshot_isolation(spark, tmp_store_dir):
    """Marker-gated snapshot isolation (the guarantee real Iceberg would
    give; no Iceberg jars ship in this environment — store.py docstring
    records the constraint): a reader that pins a committed round sees
    a CONSISTENT snapshot — counts matching that round's marker — while
    a writer commits later rounds concurrently.  Committed data dirs
    are immutable (writers only ever create v{r+1} and rmtree orphans
    of their OWN round), so reads never race a rewrite."""
    import threading

    from tegenaria_spark.schemas import FRONTIER_SCHEMA
    from tegenaria_spark.sources.synth import SiteConfig, seed_urls
    from tegenaria_spark.functions.canonical import with_canonical, with_fingerprint
    from datetime import datetime, timezone

    site = SiteConfig(n_domains=3, pages_per_domain=40)
    ts0 = datetime.fromtimestamp(1_700_000_000, tz=timezone.utc)

    def frontier_df(n):
        rows = [{**r, "next_fetch_time": ts0} for r in seed_urls(site, n_seeds=n)]
        df = with_fingerprint(with_canonical(spark.createDataFrame(rows, FRONTIER_SCHEMA)))
        return df.select(*[f.name for f in FRONTIER_SCHEMA.fields], "canon_url", "domain", "fp")

    store = LocalSnapshotStore(tmp_store_dir, spark)
    store.commit_round(0, frontier_df(30), _seen(spark, [0]), {}, {"phase": "t"})

    errors: list[str] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            r = store.last_committed_round()
            m = store._marker(r)
            if m is None:
                continue
            want = m["row_counts"]["frontier"]
            got = store.read_frontier(r).count()
            if got != want:
                errors.append(f"round {r}: read {got} rows, marker says {want}")
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for r in range(1, 5):
            # each round commits a different frontier size
            store.commit_round(
                r, frontier_df(30 + 10 * r), _seen(spark, [r], rnd=r), {}, {"phase": "t"}
            )
    finally:
        stop.set()
        t.join(timeout=60)
    assert not errors, errors
