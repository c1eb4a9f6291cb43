"""Pure reducers for the crawl benchmark: round statistics, store
accounting, output checks and the Spark event-log fold.

Nothing here starts Spark or touches the engine; every function takes
plain values (round records, commit markers, parquet rows, event-log
lines) so the readings can be unit-tested without a session
(``python -m pytest perfbench``).
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
from dataclasses import dataclass, field

PHASES = ("schedule", "fetch", "parse_seq", "dedup_log", "counts")
COMMIT_TABLES = ("frontier", "url_seen", "items", "fetch_log", "bloom")


def median(values, default: float = 0.0) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else default


def outcomes(marker: dict) -> dict:
    """The outcome counters (fetched, failed, dup_dropped, ...) of a commit marker."""
    return (marker.get("stats") or {}).get("outcomes") or {}


@dataclass
class Round:
    """One crawl round as the benchmark saw it from outside the engine.

    ``started`` is the wall clock at the round's ROUND_START and
    ``cadence_s`` the time to the next round's ROUND_START: the round's
    compute plus the wait for the previous round's commit, i.e. one
    period of the pipelined loop.  ``timings`` are the engine's phase
    timings (traced runs only); ``marker`` is the commit marker the round
    produced (commit r+1)."""

    round_no: int
    started: float
    cadence_s: float
    marker: dict
    timings: dict = field(default_factory=dict)

    @property
    def ended(self) -> float:
        return self.started + self.cadence_s

    @property
    def compute_s(self) -> float:
        return sum(float(self.timings.get(p, 0.0)) for p in PHASES)

    @property
    def outcomes(self) -> dict:
        return outcomes(self.marker)

    @property
    def fetched(self) -> int:
        return int(self.outcomes.get("fetched", 0))

    @property
    def new_urls(self) -> int:
        # RoundResult.n_new carries the fetched count; the URLs the
        # round added to url_seen are the delta table's committed rows
        return int(self.marker.get("row_counts", {}).get("url_seen", 0))


def measured_rounds(
    starts: dict[int, float], markers: dict[int, dict], timings: dict[int, dict]
) -> list[Round]:
    """Steady-state rounds from the ROUND_START clock.

    A round's cadence runs from its start to the next round's start, so
    the last round started has none: that drops both the round whose
    start closed the window and the commit-only tail of a ``run()`` that
    ended by itself (``RoundResult.wall_s`` of that tail is just the
    commit).  The first round is dropped too: no commit ran beside it,
    so its cadence is compute alone."""
    order = sorted(starts)
    return [
        Round(
            round_no=r,
            started=starts[r],
            cadence_s=starts[nxt] - starts[r],
            marker=markers.get(r + 1, {}),
            timings=timings.get(r, {}),
        )
        for r, nxt in zip(order[1:], order[2:])
    ]


def round_metrics(rounds: list[Round]) -> dict:
    """Per-round medians of the engine phases and the commit markers."""
    m: dict[str, float] = {}
    for p in PHASES:
        m[f"engine.{p}_s"] = median(float(r.timings.get(p, 0.0)) for r in rounds)
    m["engine.compute_s"] = median(r.compute_s for r in rounds)
    m["engine.commit_wait_s"] = median(max(0.0, r.cadence_s - r.compute_s) for r in rounds)
    for t in COMMIT_TABLES:
        m[f"store.write_s.{t}"] = median(
            float((r.marker.get("write_times") or {}).get(t, 0.0)) for r in rounds
        )
    fetched, dups, invalid, new, ready = [], [], [], [], []
    for r in rounds:
        o = r.outcomes
        selected = int(o.get("fetched", 0)) + int(o.get("failed", 0))
        fetched.append(r.fetched)
        dups.append(int(o.get("dup_dropped", 0)))
        invalid.append(int(o.get("invalid", 0)))
        new.append(r.new_urls)
        denom = selected + int(o.get("deferred", 0)) + int(o.get("robots_blocked", 0))
        ready.append(selected / denom if denom else 0.0)
    m["fetch.pages"] = median(fetched)
    m["schedule.selected_ratio"] = median(ready)
    m["dedup.new_urls"] = median(new)
    m["dedup.candidates"] = median(n + d for n, d in zip(new, dups))
    m["parse.links"] = median(n + d + i for n, d, i in zip(new, dups, invalid))
    m["dedup.dup_ratio"] = median(d / (n + d) if n + d else 0.0 for n, d in zip(new, dups))
    return m


def deltas(at_start: dict[int, float]) -> list[float]:
    """Per-round differences of a value read at each ROUND_START."""
    order = sorted(at_start)
    return [round(at_start[b] - at_start[a], 3) for a, b in zip(order, order[1:])]


def first_rounds(
    starts: dict[int, float], cpu: dict[int, float], markers: dict[int, dict], n: int
) -> tuple[float, float, int] | None:
    """(wall s, CPU s, fetched URLs) of the first *n* crawl rounds.

    The span runs from the first round's ROUND_START to the start of the
    round after the *n*-th: *n* cadences, i.e. *n* computes plus the
    commits that ran beside them.  ``cpu`` holds the process tree's CPU
    seconds read at each ROUND_START.  A fixed number of rounds, rather
    than all a window holds, keeps the JVM's warm-up (later rounds are
    cheaper) from favouring the runs that fit one more round.  None if
    round *n* + 1 never started."""
    order = sorted(starts)
    if len(order) <= n:
        return None
    lo, hi = order[0], order[n]
    fetched = sum(int(outcomes(markers.get(r + 1, {})).get("fetched", 0)) for r in order[:n])
    return starts[hi] - starts[lo], cpu[hi] - cpu[lo], fetched


# --------------------------------------------------------------------------
# store accounting (plain file walks: no Spark job)
# --------------------------------------------------------------------------


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under *path*."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except FileNotFoundError:
                pass
    return size, files


def commit_usage(root: str, r: int) -> tuple[int, int]:
    """(bytes, files) commit *r* added: its state versions and log
    partitions (state/*/v{r}, logs/*/r{r}) plus its marker."""
    size = files = 0
    for kind, name in (("state", f"v{r}"), ("logs", f"r{r}")):
        base = os.path.join(root, kind)
        if not os.path.isdir(base):
            continue
        for table in os.listdir(base):
            b, f = dir_usage(os.path.join(base, table, name))
            size, files = size + b, files + f
    marker = os.path.join(root, "commits", f"round-{r}.json")
    if os.path.exists(marker):
        size, files = size + os.path.getsize(marker), files + 1
    return size, files


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------


@dataclass
class CheckReport:
    failed_rounds: set = field(default_factory=set)
    problems: list = field(default_factory=list)

    def fail(self, r, why: str) -> None:
        self.failed_rounds.add(r)
        if len(self.problems) < 20:
            self.problems.append(f"round {r}: {why}")


def check_rounds(
    fetch_log_by_commit: dict[int, list[dict]],
    markers: dict[int, dict],
    seen_fps_by_commit: dict[int, list[int]],
    budgets: dict[str, int],
) -> CheckReport:
    """The crawl invariants, per commit:

    - no fp enters url_seen twice (across every delta);
    - selected (fetched + failed) per domain per round ≤ its budget;
    - the marker's outcome counters equal the fetch_log row counts."""
    rep = CheckReport()
    seen: set[int] = set()
    for c in sorted(seen_fps_by_commit):
        fps = seen_fps_by_commit[c]
        if len(set(fps)) != len(fps) or seen.intersection(fps):
            rep.fail(c, "duplicate fp in url_seen")
        seen.update(fps)
    for c, rows in sorted(fetch_log_by_commit.items()):
        per_domain: dict[str, int] = {}
        counts: dict[str, int] = {}
        for row in rows:
            counts[row["outcome"]] = counts.get(row["outcome"], 0) + 1
            if row["outcome"] in ("fetched", "failed"):
                per_domain[row["domain"]] = per_domain.get(row["domain"], 0) + 1
        for d, n in per_domain.items():
            if n > budgets.get(d, 0):
                rep.fail(c, f"{d} fetched {n} > budget {budgets.get(d, 0)}")
        outcomes = (markers.get(c, {}).get("stats") or {}).get("outcomes")
        if outcomes is not None:
            # keys with a leading "_" are derived tallies, not outcomes
            want = {k: int(v) for k, v in outcomes.items() if int(v) and k[0] != "_"}
            if want != counts:
                rep.fail(c, f"marker outcomes {want} != fetch_log {counts}")
    return rep


def crawl_digest(
    fetch_log_by_commit: dict[int, list[dict]],
    seen_fps_by_commit: dict[int, list[int]],
    upto_commit: int,
) -> str:
    """sha256 over the url_seen fp set and the (round, seq, url, outcome)
    fetch_log rows of commits 0..upto_commit — identical across runs of
    one seed iff the crawl is deterministic."""
    h = hashlib.sha256()
    fps = sorted(
        fp for c, v in seen_fps_by_commit.items() if c <= upto_commit for fp in v
    )
    h.update(json.dumps(fps).encode())
    rows = sorted(
        (row["round"], row["seq"], row["url"], row["outcome"])
        for c, v in fetch_log_by_commit.items()
        if c <= upto_commit
        for row in v
    )
    h.update(json.dumps(rows).encode())
    return h.hexdigest()


# --------------------------------------------------------------------------
# Spark event log (plain JSON lines: spark.eventLog.compress=false,
# spark.eventLog.rolling.enabled=false)
# --------------------------------------------------------------------------


@dataclass
class EventLog:
    jobs: list = field(default_factory=list)   # (submit_s, end_s)
    tasks: list = field(default_factory=list)  # dicts, times in seconds


def parse_event_log(lines) -> EventLog:
    log = EventLog()
    starts: dict[int, float] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = ev["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd":
            t0 = starts.pop(ev["Job ID"], None)
            if t0 is not None:
                log.jobs.append((t0, ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            log.tasks.append(
                {
                    "stage": ev.get("Stage ID"),
                    "launch": info.get("Launch Time", 0) / 1000.0,
                    "finish": info.get("Finish Time", 0) / 1000.0,
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                }
            )
    return log


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of *intervals*."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def session_window(log: EventLog, lo: float, hi: float) -> dict:
    """Spark runtime totals for one wall-clock window (one round's
    cadence): jobs submitted, task run/GC time, shuffle write, spill, and
    the driver gap — window time with no Spark job running."""
    tasks = [t for t in log.tasks if lo < t["finish"] <= hi]
    return {
        "jobs": sum(1 for a, _b in log.jobs if lo < a <= hi),
        "task_s": sum(t["run_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
        "driver_gap_s": (hi - lo) - covered(log.jobs, lo, hi),
    }


def task_skew(log: EventLog, lo: float, hi: float) -> float:
    """max ÷ median task duration of the busiest stage (by summed run
    time) whose tasks all finished inside [lo, hi] — the fetch stage when
    the window is a round's fetch phase."""
    by_stage: dict = {}
    for t in log.tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    best, best_run = None, -1.0
    for tasks in by_stage.values():
        if all(lo <= t["launch"] and t["finish"] <= hi for t in tasks):
            run = sum(t["run_s"] for t in tasks)
            if run > best_run:
                best, best_run = tasks, run
    if not best:
        return 0.0
    durations = [t["finish"] - t["launch"] for t in best]
    mid = statistics.median(durations)
    return max(durations) / mid if mid > 0 else 1.0


def session_metrics(log: EventLog, rounds: list[Round]) -> tuple[dict, list[dict]]:
    """Per-round medians of :func:`session_window` over each measured
    round's cadence window, plus the fetch-stage skew; also returns the
    per-round rows (driver gap growth across rounds is read from them)."""
    rows = []
    for r in rounds:
        row = session_window(log, r.started, r.ended)
        fetch_lo = r.started + float(r.timings.get("schedule", 0.0))
        fetch_hi = fetch_lo + float(r.timings.get("fetch", 0.0))
        row["fetch_task_skew"] = task_skew(log, fetch_lo, fetch_hi)
        row["round"] = r.round_no
        rows.append(row)
    m = {
        "session.jobs_per_round": median(x["jobs"] for x in rows),
        "session.task_s": median(x["task_s"] for x in rows),
        "session.gc_s": median(x["gc_s"] for x in rows),
        "session.shuffle_write_mb": median(x["shuffle_write_mb"] for x in rows),
        "session.spill_mb": median(x["spill_mb"] for x in rows),
        "session.driver_gap_s": median(x["driver_gap_s"] for x in rows),
        "fetch.task_skew": median(x["fetch_task_skew"] for x in rows),
    }
    return m, rows
