"""Split a command's CPU time by process class and JVM thread.

    python scripts/cpu_split.py --out split.json -- python3 perfbench/run.py --workload crawl_links --seed 301 --seconds 25

Runs the command, and once a second reads ``/proc`` (read-only) for every
descendant process: its CPU, split into driver Python, JVM, Python
workers (``pyspark.daemon`` and the workers it forks) and other; and for
each JVM, every thread's CPU by thread name with digits folded to ``#``
(``GC Thread##``, ``Executor task l``) except right after a capital
(``C1 CompilerThre`` and ``C2 CompilerThre`` stay apart).  Each sample adds the CPU a
process or thread used since the previous one to its current class or
name.  CPU a process uses after the last sample before it exits is
missed (at most one second's worth per process).  The kernel's child
rusage is no cross-check here: pyspark's python workers are reaped
without a wait, so their CPU never reaches it.  ``timeline`` holds the
cumulative split at every sample, seconds from the start, so a caller
can cut out a window it timed itself.  The command's own output passes
through; the report is one JSON object written to ``--out`` (or
stderr).  Exits with the command's exit code.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time
from collections import defaultdict

TICK = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 1.0  # seconds between samples


def _read(path: str) -> str:
    with open(path, "rb") as f:
        return f.read().decode(errors="replace")


def _stat(path: str) -> tuple[int, float]:
    """(ppid, utime + stime in s) from a /proc stat file."""
    s = _read(path)
    rest = s[s.rindex(")") + 2:].split()
    return int(rest[1]), (int(rest[11]) + int(rest[12])) / TICK


def _descendants(root: int) -> dict[int, float]:
    """{pid: cpu_s} for *root* and every process below it."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)], cpu[int(name)] = _stat(f"/proc/{name}/stat")
            except (OSError, ValueError, IndexError):
                pass
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in cpu:
            out[pid] = cpu[pid]
            todo.extend(children[pid])
    return out


def _classify(pid: int) -> str:
    try:
        argv = _read(f"/proc/{pid}/cmdline").split("\0")
    except OSError:
        return "other"
    exe = os.path.basename(argv[0])
    if exe == "java":
        return "jvm"
    if "pyspark.daemon" in argv or "pyspark.worker" in argv:
        return "python_worker"
    if exe.startswith("python"):
        return "driver_python"
    return "other"


def _threads(pid: int) -> dict[int, tuple[str, float]]:
    """{tid: (folded thread name, cpu_s)} of one process."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            name = _read(f"/proc/{pid}/task/{tid}/comm").strip()
            out[int(tid)] = (re.sub(r"(?<![A-Z])\d+", "#", name), _stat(f"/proc/{pid}/task/{tid}/stat")[1])
        except (OSError, ValueError, IndexError):
            pass
    return out


def _rounded(cpu: dict[str, float]) -> dict[str, float]:
    return {k: round(v, 2) for k, v in cpu.items() if v >= 0.005}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", help="report path (default: stderr)")
    ap.add_argument("cmd", nargs=argparse.REMAINDER, help="-- command and its arguments")
    args = ap.parse_args()
    cmd = args.cmd[1:] if args.cmd[:1] == ["--"] else args.cmd
    if not cmd:
        ap.error("no command given")

    t0 = time.time()
    proc = subprocess.Popen(cmd)
    classes: dict[str, float] = defaultdict(float)
    threads: dict[str, float] = defaultdict(float)
    seen_pid: dict[int, float] = {}   # pid -> last cpu
    seen_tid: dict[int, float] = {}   # JVM tid -> last cpu
    timeline = []
    while True:
        done = proc.poll() is not None
        for pid, cpu in _descendants(proc.pid).items():
            # classified every sample: a launcher script execs the JVM
            cls = _classify(pid)
            classes[cls] += cpu - seen_pid.get(pid, 0.0)
            seen_pid[pid] = cpu
            if cls == "jvm":
                for tid, (name, tcpu) in _threads(pid).items():
                    threads[name] += tcpu - seen_tid.get(tid, 0.0)
                    seen_tid[tid] = tcpu
        timeline.append([round(time.time() - t0, 2), _rounded(classes), _rounded(threads)])
        if done:
            break
        time.sleep(INTERVAL_S)
    report = {
        "cmd": cmd,
        "exit_code": proc.returncode,
        "wall_s": round(time.time() - t0, 1),
        "sampled_cpu_s": round(sum(classes.values()), 1),
        "classes": {k: round(v, 1) for k, v in sorted(classes.items(), key=lambda kv: -kv[1])},
        "jvm_threads": {
            k: round(v, 1) for k, v in sorted(threads.items(), key=lambda kv: -kv[1]) if v >= 0.05
        },
        "timeline": timeline,
    }
    text = json.dumps(report)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text, file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
