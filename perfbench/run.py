"""Crawl benchmark for tegenaria-spark.

    python3 perfbench/run.py --workload crawl_images --seed 1 --seconds 25 --trace 0

Runs one workload from a single process on ``local[nproc]``: sets the
crawl up (session, warm-up, bootstrap), crawls rounds back to back until
``--seconds`` have passed and at least three rounds are done, checks the
store, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; ``--trace 1`` turns on the Spark
event log, also resumes the crawl once with a fresh engine, and prints
the per-layer metrics instead.  The line
before it carries the run's context (Spark conf, host probes, digest).
See perfbench/NOTES.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"          # deleted after every run
LEDGER = ROOT / ".perfbench_out" / "digests.json"

sys.path.insert(0, str(HERE))
import host  # noqa: E402
import reducers as rd  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
MASTER = f"local[{NPROC}]"
DRIVER_MEM = "2g"
FIRST_ROUNDS = 3        # rounds the end-to-end metrics read; the window
                        # stays open until they are done
DIGEST_COMMITS = 2      # bootstrap + the first two crawl rounds

# Shipped EngineConfig defaults except: the partition and bucket counts,
# sized to the session (the shipped 32 shuffle partitions x salt 4 are
# sized for 32 cores and more than double a round on local[4]); half the
# cores each, because a round's compute and the previous round's commit
# run their jobs side by side, so together they fill the cores once
# instead of twice; and url_seen compaction at every commit instead of
# every 8th, so that a run of three or four rounds still compacts inside
# the window and the resume reads a compacted base plus deltas.
PARTS = max(1, NPROC // 2)
ENGINE = {
    "shuffle_partitions": PARTS,
    "domain_salt_width": 1,
    "fp_buckets": PARTS,
    "bloom_buckets": PARTS,
    "seen_compact_every": 1,
}


@dataclass(frozen=True)
class Workload:
    n_domains: int
    pages_per_domain: int
    max_outlinks: int
    image_ratio: float
    n_seeds: int

    def site(self, seed: int):
        from tegenaria_spark.sources.synth import SiteConfig

        return SiteConfig(
            n_domains=self.n_domains,
            pages_per_domain=self.pages_per_domain,
            max_outlinks=self.max_outlinks,
            image_ratio=self.image_ratio,
            seed=seed,
        )


WORKLOADS = {
    # every fetched page carries an image (PNG/JPEG encode, phash) and
    # an items payload row; few duplicates
    "crawl_images": Workload(
        n_domains=64, pages_per_domain=4000, max_outlinks=6,
        image_ratio=1.0, n_seeds=4096,
    ),
    # no payload; a URL space small enough that most candidates are
    # duplicates: canonicalize, the dedup gate, bloom and url_seen carry it
    "crawl_links": Workload(
        n_domains=64, pages_per_domain=200, max_outlinks=16,
        image_ratio=0.0, n_seeds=8192,
    ),
}


class _WindowClosed(BaseException):
    """Raised from a ROUND_START handler to end the measured window.

    The engine contains handler *Exceptions*, so this derives from
    BaseException to leave ``run()``; its ``finally`` still waits for the
    in-flight commit.  ``request_pause()`` would instead compute one more
    round and discard it."""


def spark_conf(trace: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.security.egd=file:/dev/./urandom "
        f"-Djava.io.tmpdir={WORK / 'tmp'}",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{WORK / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


class CrawlRun:
    """One benchmark run; owns the Spark session until :meth:`close`."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.wl = WORKLOADS[workload]
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.spark = None
        self.spans: list[tuple] = []   # (method, round, t0, t1) — traced only

    def _wrap(self, store, method: str) -> None:
        """Time a store method from outside (instance attribute shadows
        the class method the engine calls)."""
        fn = getattr(store, method)

        def timed(r, *a, **kw):
            t0 = time.time()
            try:
                return fn(r, *a, **kw)
            finally:
                self.spans.append((method, r, t0, time.time()))

        setattr(store, method, timed)

    def run(self) -> tuple[dict, dict]:
        from tegenaria_spark.config import EngineConfig
        from tegenaria_spark.plans import events as ev
        from tegenaria_spark.plans.engine import CrawlEngine
        from tegenaria_spark.session import get_spark
        from tegenaria_spark.sources.store import LocalSnapshotStore
        from tegenaria_spark.sources.synth import domain_budgets, seed_frontier_df

        site = self.wl.site(self.seed)
        cfg = EngineConfig(**ENGINE, extra_spark_conf=spark_conf(self.trace))
        budget_rows = domain_budgets(site, default_budget=cfg.default_budget_per_round)

        # set-up, once: a run is too short for repeats to pay, and a
        # second SparkContext in one JVM breaks the Python accumulator
        # channel (every later UDF task logs a broken pipe)
        t_setup, t0 = time.time(), time.perf_counter()
        self.spark = spark = get_spark("perfbench", master=MASTER, config=cfg)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        store_dir = str(WORK / "store")
        store = LocalSnapshotStore(store_dir, spark, fp_buckets=cfg.fp_buckets)
        engine = CrawlEngine(spark, store, site, cfg, budget_rows=budget_rows)
        engine.bootstrap(seed_frontier_df(spark, site, self.wl.n_seeds))
        setup_s = time.perf_counter() - t0
        timings: dict[int, dict] = {}
        if self.trace:
            self._wrap(store, "commit_round")
            self._wrap(store, "compact_url_seen")
            compute = engine._compute_round

            def timed_compute(r, *a, **kw):
                work = compute(r, *a, **kw)
                timings[r] = work.timings
                return work

            engine._compute_round = timed_compute
        boot_bytes, _ = rd.dir_usage(store_dir)

        starts: dict[int, float] = {}
        cpu: dict[int, float] = {}
        t_start = time.time()

        def on_start(round_no, **_):
            # this start also ends the previous round's cadence; the
            # round that closes the window is never computed
            starts[round_no] = now = time.time()
            cpu[round_no] = host.tree_cpu_s(os.getpid())
            if now - t_start >= self.seconds and len(starts) > FIRST_ROUNDS:
                raise _WindowClosed

        engine.events.register(ev.ROUND_START, on_start)
        ended_by_engine = True
        try:
            engine.run(resume=True, max_rounds=10_000)
        except _WindowClosed:
            ended_by_engine = False
        t_end = time.time()
        window_bytes, _ = rd.dir_usage(store_dir)
        window_commit = store.last_committed_round()

        if self.trace:
            # the store read path (manifest frontier, url_seen base plus
            # deltas, bloom state) that the pipelined loop never uses
            t0 = time.perf_counter()
            store = LocalSnapshotStore(store_dir, spark, fp_buckets=cfg.fp_buckets)
            self._wrap(store, "compact_url_seen")
            CrawlEngine(spark, store, site, cfg, budget_rows=budget_rows).run(
                resume=True, max_rounds=1
            )
            resume_s = time.perf_counter() - t0
        t_resumed = time.time()

        conf = dict(spark.sparkContext.getConf().getAll())
        app_id = spark.sparkContext.applicationId
        self.close()

        # ---- everything below is outside the timed window --------------
        root = Path(store_dir)
        commits = sorted(
            int(f.name[len("round-"):-len(".json")])
            for f in (root / "commits").glob("round-*.json")
        )
        markers = {c: json.loads((root / "commits" / f"round-{c}.json").read_text()) for c in commits}
        measured = rd.measured_rounds(starts, markers, timings)

        failed, ctx = self._check(root, commits, markers, budget_rows)
        ctx["phase_wall_s"] = {
            "setup": round(t_start - t_setup, 3),
            "window": round(t_end - t_start, 3),
            "resume": round(t_resumed - t_end, 3),
            "close_and_check": round(time.time() - t_resumed, 3),
        }
        ctx |= {
            "workload": self.name, "seed": self.seed, "trace": int(self.trace),
            "window_s": round(t_end - t_start, 3), "ended_by_engine": ended_by_engine,
            "rounds_committed": window_commit, "rounds_measured": len(measured),
            "round_wall_s": rd.deltas(starts), "round_cpu_s": rd.deltas(cpu),
            "session_s": session_s, "spark_conf": conf,
        }
        first = rd.first_rounds(starts, cpu, markers, FIRST_ROUNDS)
        wall_s, cpu_s, fetched = first or (0.0, 0.0, 0)
        ctx["first_rounds"] = {"wall_s": wall_s, "cpu_s": cpu_s, "fetched": fetched}
        if not self.trace:
            fetched_window = sum(
                int(rd.outcomes(markers[c]).get("fetched", 0)) for c in commits if 0 < c <= window_commit
            )
            metrics = {
                "cpu_s_per_url": cpu_s / max(fetched, 1),
                "store_bytes_per_url": (window_bytes - boot_bytes) / max(fetched_window, 1),
                "setup_s": setup_s,
            }
        else:
            metrics = self._layers(root, measured, markers, app_id, ctx)
            metrics["store.resume_s"] = resume_s
            metrics["traced.cpu_s_per_url"] = cpu_s / max(fetched, 1)
            metrics["traced.fetched_urls_per_s"] = fetched / wall_s if wall_s else 0.0
            metrics["traced.round_s_mean"] = wall_s / FIRST_ROUNDS
        if first is None or not measured:
            failed += 1
            ctx["problems"].append(f"fewer than {FIRST_ROUNDS} rounds crawled")
        # operations: the bootstrap and every crawl round committed
        return {"attempted": len(commits), "failed": failed, "metrics": metrics}, ctx

    def _check(self, root: Path, commits, markers, budget_rows) -> tuple[int, dict]:
        import pyarrow.parquet as pq

        fetch_log = {
            c: pq.read_table(
                root / "logs" / "fetch_log" / f"r{c}",
                columns=["round", "seq", "url", "domain", "outcome"],
            ).to_pylist()
            for c in commits
        }
        seen = {
            c: pq.read_table(root / "state" / "url_seen" / f"v{c}", columns=["fp"])
            .column("fp").to_pylist()
            for c in commits
        }
        budgets = {b["domain"]: b["budget_per_round"] for b in budget_rows}
        rep = rd.check_rounds(fetch_log, markers, seen, budgets)
        digest = rd.crawl_digest(fetch_log, seen, DIGEST_COMMITS)
        failed = len(rep.failed_rounds)
        ledger = json.loads(LEDGER.read_text()) if LEDGER.exists() else {}
        key = f"{self.name}/{self.seed}/{DIGEST_COMMITS}"
        if ledger.setdefault(key, digest) != digest:
            failed += 1
            rep.problems.append(f"digest {digest} != earlier run's {ledger[key]}")
        LEDGER.parent.mkdir(exist_ok=True)
        LEDGER.write_text(json.dumps(ledger, indent=1, sort_keys=True))
        return failed, {"digest": digest, "problems": rep.problems}

    def _layers(self, root: Path, measured, markers, app_id: str, ctx: dict) -> dict:
        m = rd.round_metrics(measured)
        m["schedule.frontier_rows"] = rd.median(
            markers.get(r.round_no, {}).get("row_counts", {}).get("frontier", 0) for r in measured
        )
        m["fetch.payload_mb"] = rd.median(
            rd.dir_usage(str(root / "logs" / "items" / f"r{r.round_no + 1}"))[0] / 1e6
            for r in measured
        )
        usage = [rd.commit_usage(str(root), r.round_no + 1) for r in measured]
        m["store.mb_per_round"] = rd.median(b / 1e6 for b, _f in usage)
        m["store.files_per_round"] = rd.median(f for _b, f in usage)
        last_bloom = max((p for p in (root / "state" / "bloom").glob("v*")), default=None,
                         key=lambda p: int(p.name[1:]))
        m["dedup.bloom_state_mb"] = rd.dir_usage(str(last_bloom))[0] / 1e6 if last_bloom else 0.0
        want = {r.round_no + 1 for r in measured}
        m["store.commit_s"] = rd.median(
            t1 - t0 for meth, r, t0, t1 in self.spans if meth == "commit_round" and r in want
        )
        m["store.compact_s"] = rd.median(
            t1 - t0 for meth, _r, t0, t1 in self.spans if meth == "compact_url_seen"
        )
        with open(WORK / "eventlog" / app_id) as fh:
            log = rd.parse_event_log(fh)
        session, rows = rd.session_metrics(log, measured)
        m |= session
        ctx["session_rows"] = rows
        return m

    def close(self) -> None:
        """Stop Spark and every process it started, then wait for them."""
        procs = host.processes(host.descendants(os.getpid()))
        try:
            host.stop_spark(self.spark)
        finally:
            self.spark = None
            left = host.wait_gone(procs)
            if left:
                print(f"perfbench: killed leftover processes {left}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import tegenaria_spark.plans.engine  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the crawl engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if WORK.exists():
        print(f"perfbench: leftovers of an earlier run in {WORK}; remove them first",
              file=sys.stderr)
        return 3
    for d in ("local", "tmp", "eventlog"):
        (WORK / d).mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_GRAFT_SKIP_FIXTURES"] = "1"

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    before = host.host_context()
    bench = CrawlRun(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        with host.RssSampler() as rss:
            result, ctx = bench.run()
    finally:
        bench.close()
        shutil.rmtree(WORK, ignore_errors=True)
    values = result["metrics"] | {"session.peak_rss_mb": rss.peak_mb}
    after = host.host_context(before.pop("_cpu"))
    after.pop("_cpu")
    ctx["host_before"], ctx["host_after"] = before, after

    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
        },
    }
    print(json.dumps({"context": ctx}, default=str))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
