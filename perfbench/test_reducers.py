"""Unit tests for the benchmark's reducers: python -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import reducers as rd  # noqa: E402


def _marker(fetched=0, failed=0, dup=0, deferred=0, new=0, writes=None, extra=None):
    outcomes = {"fetched": fetched, "failed": failed, "dup_dropped": dup, "deferred": deferred}
    outcomes |= extra or {}
    return {
        "stats": {"outcomes": outcomes},
        "row_counts": {"url_seen": new, "frontier": 100},
        "write_times": writes or {},
    }


def test_measured_rounds_drop_first_and_last_started():
    starts = {0: 100.0, 1: 110.0, 2: 119.0, 3: 129.5}
    markers = {c: _marker(fetched=c) for c in range(5)}
    rounds = rd.measured_rounds(starts, markers, {})
    assert [r.round_no for r in rounds] == [1, 2]
    assert [r.cadence_s for r in rounds] == [9.0, 10.5]
    # round r's outcomes live in commit r+1
    assert [r.fetched for r in rounds] == [2, 3]
    assert rounds[1].ended == 129.5


def test_measured_rounds_ignore_commit_tail_of_finished_run():
    # run() ended by itself after round 2: round 2 has no successor start,
    # so its commit-only tail never becomes a cadence
    starts = {0: 0.0, 1: 10.0, 2: 20.0}
    rounds = rd.measured_rounds(starts, {}, {})
    assert [r.round_no for r in rounds] == [1]


def test_new_urls_come_from_url_seen_rows_not_fetched():
    r = rd.Round(round_no=1, started=0.0, cadence_s=1.0, marker=_marker(fetched=50, new=7))
    assert r.fetched == 50
    assert r.new_urls == 7


def test_round_metrics_pair_cadence_with_compute():
    timings = {"schedule": 1.0, "fetch": 2.0, "parse_seq": 0.5, "dedup_log": 1.5, "counts": 0.5,
               "commit": 30.0}
    writes = {"frontier": 2.0, "items": 1.0}
    rounds = [
        rd.Round(1, 0.0, 6.0, _marker(fetched=80, failed=20, dup=300, deferred=100, new=100,
                                      writes=writes), timings),
        rd.Round(2, 6.0, 5.0, _marker(fetched=80, failed=20, dup=300, deferred=100, new=100,
                                      writes=writes), timings),
    ]
    m = rd.round_metrics(rounds)
    assert m["engine.compute_s"] == 5.5      # the commit's timing is not compute
    assert m["engine.commit_wait_s"] == 0.25  # median of (0.5, 0.0): never negative
    assert m["store.write_s.frontier"] == 2.0
    assert m["store.write_s.bloom"] == 0.0
    assert m["dedup.dup_ratio"] == 0.75
    assert m["schedule.selected_ratio"] == 0.5
    assert m["dedup.new_urls"] == 100


def test_checks_flag_each_invariant():
    budgets = {"a": 2, "b": 1}
    log = {
        1: [
            {"outcome": "fetched", "domain": "a"},
            {"outcome": "failed", "domain": "a"},
            {"outcome": "dup_dropped", "domain": "b"},
        ],
        2: [
            {"outcome": "fetched", "domain": "b"},
            {"outcome": "fetched", "domain": "b"},
        ],
    }
    markers = {
        1: {"stats": {"outcomes": {"fetched": 1, "failed": 1, "dup_dropped": 1, "_errors": 1}}},
        2: {"stats": {"outcomes": {"fetched": 3}}},
    }
    seen = {0: [1, 2], 1: [3], 2: [2]}
    rep = rd.check_rounds(log, markers, seen, budgets)
    # round 1 is clean (derived "_errors" tally ignored); round 2 breaks
    # the budget, the counters and the url_seen uniqueness
    assert rep.failed_rounds == {2}
    assert len(rep.problems) == 3


def test_digest_is_order_free_and_bounded():
    log = {1: [{"round": 0, "seq": 5, "url": "u", "outcome": "fetched"},
               {"round": 0, "seq": 6, "url": "v", "outcome": "dup_dropped"}]}
    seen = {0: [3, 1], 1: [2]}
    d = rd.crawl_digest(log, seen, upto_commit=1)
    log_rev = {1: list(reversed(log[1]))}
    assert rd.crawl_digest(log_rev, {1: [2], 0: [1, 3]}, 1) == d
    # commits past upto_commit do not enter the digest
    assert rd.crawl_digest(log | {2: [{"round": 1, "seq": 1, "url": "w", "outcome": "x"}]},
                           seen | {2: [9]}, 1) == d
    log[1][0]["outcome"] = "failed"
    assert rd.crawl_digest(log, seen, 1) != d


def _events(*evs):
    return [json.dumps(e) for e in evs]


def test_event_log_fold_windows_and_gap():
    lines = _events(
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 7000},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 8000},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 2000},
         "Task Metrics": {"Executor Run Time": 900, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 1_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 4000},
         "Task Metrics": {"Executor Run Time": 2900, "JVM GC Time": 0}},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 9000},
    )
    log = rd.parse_event_log(lines)
    w = rd.session_window(log, 0.0, 10.0)
    assert w["jobs"] == 3
    assert w["task_s"] == 3.8
    assert w["gc_s"] == 0.1
    assert w["shuffle_write_mb"] == 2.0
    assert w["spill_mb"] == 1.0
    # jobs cover [1,4] and [7,8]: 4 s busy of a 10 s window
    assert w["driver_gap_s"] == 6.0
    # a window clips the job intervals
    assert rd.session_window(log, 3.5, 7.5)["driver_gap_s"] == 3.0
    # stage 0's tasks took 1 s and 3 s
    assert rd.task_skew(log, 0.0, 5.0) == 3.0 / 2.0
    assert rd.task_skew(log, 1.5, 5.0) == 0.0


def test_commit_usage_counts_only_that_commit(tmp_path):
    for rel, size in [("state/url_seen/v1/a", 10), ("state/url_seen/v2/a", 20),
                      ("logs/items/r1/p", 5), ("commits/round-1.json", 3)]:
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x" * size)
    assert rd.commit_usage(str(tmp_path), 1) == (18, 3)
    assert rd.dir_usage(str(tmp_path)) == (38, 4)


def test_first_rounds_span_fixed_count_of_cadences():
    starts = {3: 100.0, 4: 110.0, 5: 125.0, 6: 130.0, 7: 150.0}
    cpu = {3: 50.0, 4: 80.0, 5: 120.0, 6: 135.0, 7: 190.0}
    markers = {4: _marker(fetched=10), 5: _marker(fetched=20), 6: _marker(fetched=40)}
    # rounds 3 and 4: start of 3 to start of 5, commits 4 and 5
    assert rd.first_rounds(starts, cpu, markers, 2) == (25.0, 70.0, 30)
    assert rd.first_rounds(starts, cpu, markers, 4) == (50.0, 140.0, 70)
    assert rd.first_rounds(starts, cpu, markers, 5) is None
