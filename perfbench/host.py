"""Host-side helpers: process-tree RSS sampling, host context probes and
process teardown.  Linux /proc only; no third-party modules."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces: fields resume after the last ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    parents = _ppids()
    kids: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of *root* and its live descendants, plus
    those of descendants already reaped (the c* fields)."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / TICK


class RssSampler:
    """Samples the RSS of this process and all its descendants (driver
    JVM, Python workers) about once a second; ``peak_mb`` is the max."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def triad_gbps(n: int = 2_000_000, reps: int = 5) -> float:
    """Best-of-*reps* STREAM-triad bandwidth (a = b + s·c, float64)."""
    import numpy as np

    b = np.ones(n)
    c = np.full(n, 2.0)
    a = np.empty(n)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.multiply(c, 3.0, out=a)
        np.add(a, b, out=a)
        best = min(best, time.perf_counter() - t0)
    return 3 * 8 * n / best / 1e9


def host_context(cpu_before: list[int] | None = None) -> dict:
    """1-min loadavg, triad bandwidth and (given an earlier /proc/stat
    sample) the CPU steal share since then."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    cpu = _cpu_times()
    ctx = {"loadavg_1m": load1, "triad_gbps": round(triad_gbps(), 2), "_cpu": cpu}
    if cpu_before is not None:
        delta = [a - b for a, b in zip(cpu, cpu_before)]
        total = sum(delta[:8]) or 1
        ctx["steal_pct"] = round(100.0 * delta[7] / total, 3) if len(delta) > 7 else 0.0
    return ctx


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when the pipe to its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


def _start_time(pid: int) -> int | None:
    """The process's start time (clock ticks since boot), None once it has
    exited; a reused pid reads a different value."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else int(fields[19])


def processes(pids: list[int]) -> dict[int, int]:
    """{pid: start time} of the live processes among *pids*."""
    out = {p: _start_time(p) for p in pids}
    return {p: t for p, t in out.items() if t is not None}


def wait_gone(procs: dict[int, int], timeout_s: float = 20.0) -> list[int]:
    """Wait until every process in *procs* (from :func:`processes`, plus
    any current descendant) has exited — Python workers are re-parented
    once the JVM exits, so the caller lists them before stopping it.
    SIGKILLs what is left after *timeout_s* and returns those pids."""
    procs = procs | processes(descendants(os.getpid()))

    def alive(pid: int) -> bool:
        return _start_time(pid) == procs[pid]

    deadline = time.time() + timeout_s
    while time.time() < deadline and any(alive(p) for p in procs):
        time.sleep(0.2)
    left = [p for p in procs if alive(p)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while time.time() < deadline and any(alive(p) for p in left):
        time.sleep(0.1)
    return left
