"""CrawlEngine — the driver round loop.

One crawl *round* is one batch DAG (the Spark rendering of the
reference's producer/consumer goroutine mesh, /root/reference/
engine.go:217-335):

    frontier ──ready?──▶ robots gate ──▶ budget rank ──▶ salt ──▶ fetch
       ▲                   (blocked)       (deferred)              │
       │                                                 status gate│
       │                                              ┌────────────┤
       │                retries (M5) ◀── failed ◀─────┘      ok    │
       │                                                parse (M3/M4)
       │                                              items──▶ store
       └── union ◀── dedup gate (F1/A6) ◀── seq ◀── outlinks

committed as one snapshot per round; the loop re-reads the committed
frontier until it is empty (Q6, engine.go:341-343) — which makes every
round restartable: kill the driver at any point and ``resume=True``
continues from the last committed snapshot (Q7).  The store is the only
copy of url_seen: a round reads it from the committed snapshots plus
the previous round's pinned delta, and seeds pass the same gate
(``_gate``) as every round's outlinks.  That gate is the exact url_seen
anti-join (``dedup_gate``) and nothing else: the per-bucket bloom/cuckoo
functions of operators/dedup.py are A5 membership operators that the
engine does not call.

The only wide exchanges per round: the per-domain budget window, the
salted fetch repartition, the new-link seq range-partition, and the
dedup anti-join.  Scheduling scans never touch the
binary image payload (column pruning keeps `bytes` out of every
frontier read).
"""

from __future__ import annotations

import time
from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import partial, reduce
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from tegenaria_spark.config import DEFAULT_CONFIG, EngineConfig
from tegenaria_spark.functions.canonical import with_canonical, with_fingerprint
from tegenaria_spark.operators.dedup import dedup_gate, url_seen_delta
from tegenaria_spark.plans import events as ev
from tegenaria_spark.operators.fetch import check_status, fetch_stage
from tegenaria_spark.operators.metrics import (
    counter_rows,
    parse_counter_rows,
    round_metrics_rows,
)
from tegenaria_spark.operators.parse import (
    assign_enqueue_seq,
    links_to_candidates,
    retry_candidates,
    run_parsers,
)
from tegenaria_spark.operators.schedule import (
    politeness_dim,
    round_ts_expr,
    salt_for_fetch,
    schedule_round,
)
from tegenaria_spark.schemas import FRONTIER_SCHEMA, METRICS_SCHEMA
from tegenaria_spark.sources.store import LocalSnapshotStore
from tegenaria_spark.sources.synth import SiteConfig

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]
STATE_COLS = FRONTIER_COLS + ["canon_url", "domain", "fp"]


def _pin(pins: list, df: DataFrame, disk: bool = False) -> DataFrame:
    """Eager localCheckpoint registered in *pins* for ``_release`` once
    the round is committed — leaked checkpoint blocks otherwise accumulate
    across rounds until storage eviction + GC churn wreck throughput.

    ``disk=True`` stores the blocks DISK_ONLY: the fetch output carries
    the round's image payload (GBs), and holding it as deserialized JVM
    heap objects drove G1 young pauses of 0.6-3.8 s and a live set that
    climbed past 14 GB (measured with -Xlog:gc at budget 256).  With
    spark.local.dir on tmpfs, DISK_ONLY is RAM-speed storage OUTSIDE
    the heap — the payload stops being the garbage collector's problem.
    On a real cluster this is exactly executor local-disk spill, so the
    choice survives the scale-up."""
    out = df.localCheckpoint(
        eager=True,
        storageLevel=StorageLevel.DISK_ONLY if disk else None,
    )
    pins.append(out)
    return out


def _release(pins: list) -> None:
    """Free pinned checkpoint blocks.  ``DataFrame.unpersist()`` is a
    no-op on a localCheckpoint frame (its plan is in no cache), so this
    unpersists the checkpointed RDD itself, through the SparkContext:
    ``RDD.unpersist`` would log a "was locally checkpointed" WARN per
    pin.  A later read of a released pin fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, never recomputes."""
    for df in pins:
        sc = df.sparkSession.sparkContext._jsc.sc()
        sc.unpersistRDD(df._jdf.queryExecution().logical().rdd().id(), True)


def _side_facts(side_df: DataFrame) -> tuple[dict, dict]:
    """Collect a round's ``counter_rows`` aggregate in one job and fold
    it into (outcome counts, status counts)."""
    return parse_counter_rows(side_df.collect())


def _log_rows(df: DataFrame, round_no: int, outcome: str) -> DataFrame:
    """Project any request-shaped DataFrame onto FETCH_LOG_SCHEMA."""
    return df.select(
        F.lit(round_no).cast("int").alias("round"),
        F.col("enqueue_seq").alias("seq"),
        F.col("ctx_id"),
        F.col("url"),
        (F.col("domain") if "domain" in df.columns else F.lit(None).cast("string")).alias("domain"),
        (F.col("status") if "status" in df.columns else F.lit(None).cast("int")).alias("status"),
        (F.col("delay") if "delay" in df.columns else F.lit(None).cast("double")).alias("delay"),
        (
            F.col("content_length") if "content_length" in df.columns else F.lit(None).cast("long")
        ).alias("content_length"),
        (F.col("error") if "error" in df.columns else F.lit(None).cast("string")).alias("error"),
        F.lit(outcome).alias("outcome"),
    )


@dataclass
class RoundResult:
    round_no: int
    n_selected: int
    n_fetched: int
    n_failed: int
    n_items: int
    n_new: int
    n_dup: int
    n_deferred: int
    n_blocked: int
    frontier_size: int
    wall_s: float
    snapshot_id: str = ""
    timings: dict = field(default_factory=dict)


@dataclass
class _RoundWork:
    """A computed-but-not-yet-committed round: the pinned DataFrames the
    commit writes, and ``side``, the Future of the round's
    ``_side_facts`` that the commit and finalize read."""

    round_no: int
    t0: float
    timings: dict
    pins: list
    new_frontier: DataFrame
    seen_delta: DataFrame
    items: DataFrame
    fetch_log: DataFrame
    side: Future
    commit_fut: Optional[Future] = None
    commit_t0: float = 0.0


@dataclass
class CrawlSummary:
    rounds: list[RoundResult] = field(default_factory=list)

    @property
    def total_fetched(self) -> int:
        return sum(r.n_fetched for r in self.rounds)

    @property
    def total_items(self) -> int:
        return sum(r.n_items for r in self.rounds)

    @property
    def wall_s(self) -> float:
        return sum(r.wall_s for r in self.rounds)


class CrawlEngine:
    """Engine lifecycle (engine.go:149-194 Execute/start/stop) as a
    driver class; components (queue/dupefilter/limiter/stats,
    components.go:62-79) are the operator modules wired below.

    ``robots_rows`` (ROBOTS_SCHEMA dicts, wildcard patterns included)
    and ``budget_rows`` (DOMAIN_BUDGET_SCHEMA dicts) become one
    ``politeness_dim`` frame at construction, which every round's
    ``schedule_round`` joins once; ``status()`` reads one commit
    marker."""

    def __init__(
        self,
        spark: SparkSession,
        store: LocalSnapshotStore,
        site: SiteConfig,
        cfg: EngineConfig = DEFAULT_CONFIG,
        robots_rows: Optional[list[dict]] = None,
        budget_rows: Optional[list[dict]] = None,
        plugins=None,
    ):
        from tegenaria_spark.operators.plugins import PluginSet

        self.spark = spark
        self.store = store
        self.site = site
        self.cfg = cfg
        # one row per domain: robots rules (`*`/`$` patterns included;
        # lower a robots.txt corpus with functions.robots.robots_engine_inputs),
        # budget and connection cap — every round joins it once
        self.politeness = politeness_dim(spark, robots_rows, budget_rows)
        # two workers, live during run(): a round's side job and the
        # previous round's commit overlap; commits never overlap each other
        self._executor: Optional[ThreadPoolExecutor] = None
        # user extension points: lifecycle events (events.go:30-148) and
        # the middleware/pipeline chains (middlewares.go:27-42,
        # pipelines.go:28-33)
        self.events = ev.EventBus()
        self.plugins = plugins if plugins is not None else PluginSet()
        self._pause_requested = False
        # explicit lifecycle (service.go:64-147 SetStatus/GetStatus):
        # "running" while the loop executes, "paused" after a cooperative
        # pause break, "idle" otherwise — NOT derived from the pending
        # pause-request flag (which is true while still running and
        # cleared by the time the engine is actually paused)
        self._lifecycle = "idle"

    # ------------------------------------------------------------------
    # bootstrap: seeds pass the same dedup gate as outlinks (S1 → S2)
    # ------------------------------------------------------------------

    def bootstrap(self, seed_rows) -> None:
        """Seeds pass the same gate as outlinks.  Accepts a list of row
        dicts (tests/parity) or a pre-built DataFrame (the distributed
        generator, ``sources.synth.seed_frontier_df``)."""
        cfg = self.cfg
        if isinstance(seed_rows, DataFrame):
            seeds = seed_rows.withColumn("next_fetch_time", round_ts_expr(0, cfg)).select(
                *FRONTIER_COLS
            )
        else:
            ts0 = datetime.fromtimestamp(cfg.epoch_ms / 1000, tz=timezone.utc)
            seeds = self.spark.createDataFrame(
                [{**r, "next_fetch_time": ts0} for r in seed_rows], FRONTIER_SCHEMA
            )
        pins: list[DataFrame] = []
        fresh, dups, invalid, seen = self._gate(-1, seeds, self.store.read_url_seen(-1), pins)
        # counted in full, logged per cfg.log_outcomes — as in a round;
        # the count job overlaps the commit's table writes
        outcomes = _log_rows(dups, 0, "dup_dropped").unionByName(
            _log_rows(invalid, 0, "invalid")
        )
        with ThreadPoolExecutor(max_workers=1) as pool:
            side = pool.submit(_side_facts, counter_rows(outcomes))
            self.store.commit_round(
                0,
                fresh.select(*STATE_COLS),
                seen,
                {"fetch_log": outcomes.filter(F.col("outcome").isin(*cfg.log_outcomes))},
                lambda: {"phase": "bootstrap", "outcomes": side.result()[0]},
            )
        _release(pins)

    # ------------------------------------------------------------------

    def _gate(self, r: int, cand: DataFrame, url_seen: DataFrame, pins: list):
        """The one URL-seen gate: seeds (``bootstrap``, r = -1) and each
        round's outlinks pass it.  Canonicalize + fingerprint, split off
        invalid URLs, drop fps already in *url_seen* (and duplicates
        within *cand*), and build the url_seen rows that round r commits
        as store round r + 1.  Returns (fresh, dups, invalid, seen_delta).
        Eager pins go to *pins*, released once the round is committed."""
        pin = partial(_pin, pins)
        # cand feeds invalid-log, dup-log and fresh, which race as
        # concurrent commit jobs — pin EAGERLY, or two jobs racing a lazy
        # checkpoint both recompute the canonicalize UDF
        cand = pin(with_fingerprint(with_canonical(cand)))
        invalid = cand.filter(~F.col("valid"))
        fresh, dups = dedup_gate(cand.filter(F.col("valid")), url_seen)
        # fresh feeds three sinks (frontier, url_seen, logs) — eager pin
        fresh = pin(fresh)
        seen_delta = url_seen_delta(fresh, r + 1)
        return fresh, dups, invalid, seen_delta

    def _compute_round(self, r: int, frontier: DataFrame, url_seen: DataFrame) -> "_RoundWork":
        """Phase A of a round: every Spark job EXCEPT the commit —
        schedule, fetch, parse, dedup, log assembly, and the submitted
        (not yet collected) side-aggregate.  Returns a ``_RoundWork``
        whose pinned DataFrames carry everything the commit needs, so
        the commit can run on a helper thread while the NEXT round's
        compute phase proceeds (the round cadence becomes
        ``max(compute, commit)`` instead of their sum — the commit was
        ~20% of round wall at every parallelism level, pure non-scaling
        I/O constant)."""
        cfg, site = self.cfg, self.site
        t0 = time.time()
        timings: dict[str, float] = {}
        pins: list[DataFrame] = []
        pin = partial(_pin, pins)

        def mark(name: str) -> None:
            now = time.time()
            timings[name] = round(now - (t0 + sum(timings.values())), 3)

        decided = schedule_round(frontier, self.politeness, r, cfg)
        decided = pin(decided)  # budget window runs once
        selected = decided.filter(F.col("sched") == "selected").drop("sched")
        deferred = decided.filter(F.col("sched") == "deferred").drop("sched")
        blocked = decided.filter(F.col("sched") == "robots_blocked").drop("sched")
        sleeping = decided.filter(F.col("sched") == "sleeping").drop("sched")
        mark("schedule")

        # request middlewares (ascending priority) see the selected batch
        # just before it fetches; response middlewares (descending) see
        # the raw fetch output before the status gate — M1/M2 hook points
        to_fetch = self.plugins.request_middlewares.apply(
            salt_for_fetch(selected, cfg)
        )
        fetched = check_status(
            self.plugins.response_middlewares.apply(fetch_stage(to_fetch, site, cfg))
        )
        fetched = pin(fetched, disk=True)  # cut lineage; fetch runs once;
        # payload blocks live off-heap (see _pin)
        mark("fetch")
        # Narrow meta twin of the fetch output: the image payload column
        # is replaced by a NULL literal so the schema (and the parser
        # API) is unchanged while the pinned blocks stay KBs-per-row
        # small.  Checkpoint blocks are whole-row — column pruning can't
        # reach inside them — so every downstream scan of the payload
        # pin re-deserializes the round's GBs of image bytes.  With the
        # twin, the payload pin is scanned exactly twice per round (once
        # here, once by the items table write); links, fetch-log, retry
        # and frontier assembly all read the cheap meta pin.
        meta = pin(
            fetched.drop("image_bytes").withColumn(
                "image_bytes", F.lit(None).cast("binary")
            )
        )
        ok = fetched.filter(F.col("error").isNull())
        ok_meta = meta.filter(F.col("error").isNull())
        failed = meta.filter(F.col("error").isNotNull())

        items, links = run_parsers(ok, ok_meta)
        items = self.plugins.item_pipelines.apply(items)
        links_seq = assign_enqueue_seq(links, r + 1, cfg, pin)
        mark("parse_seq")
        next_ts = round_ts_expr(r + 1, cfg)
        fresh, dups, invalid, seen_delta = self._gate(
            r, links_to_candidates(links_seq, r, next_ts), url_seen, pins
        )
        retries = retry_candidates(failed, r, cfg, next_ts)
        new_frontier = reduce(
            DataFrame.unionByName,
            [df.select(*STATE_COLS) for df in (sleeping, deferred, fresh, retries)],
        )

        # every outcome is counted (the marker's counters, the metrics
        # table, RoundResult); only cfg.log_outcomes get fetch_log rows
        outcomes = pin(
            reduce(
                DataFrame.unionByName,
                [
                    _log_rows(df, r, outcome)
                    for outcome, df in (
                        ("fetched", ok_meta),
                        ("failed", failed),
                        ("robots_blocked", blocked),
                        ("deferred", deferred),
                        ("dup_dropped", dups),
                        ("invalid", invalid),
                    )
                ],
            )
        )
        fetch_log = outcomes.filter(F.col("outcome").isin(*cfg.log_outcomes))
        mark("dedup_log")

        # the round's driver-side outcome counters: one aggregation job,
        # submitted to the run's executor so it overlaps the previous
        # round's commit; the item count is NOT a job at all (it falls
        # out of the items write's parquet footers inside the commit)
        side_df = counter_rows(outcomes)
        mark("counts")
        return _RoundWork(
            round_no=r,
            t0=t0,
            timings=timings,
            pins=pins,
            new_frontier=new_frontier,
            seen_delta=seen_delta,
            items=items,
            fetch_log=fetch_log,
            side=self._executor.submit(_side_facts, side_df),
        )

    def _launch_commit(self, work: "_RoundWork") -> None:
        """Phase B: hand the round's commit to the run's executor.  The
        closures read the side Future lazily, so only the commit thread
        ever blocks on it."""
        r = work.round_no

        def _metrics_fn(partial_counts: dict):
            counts, status = work.side.result()
            # (rows, schema): the store writes this driver-built table
            # with pyarrow directly — no Spark job (r6, store.py
            # _write_local_parquet)
            return (
                round_metrics_rows(counts, status, partial_counts.get("items", 0), r),
                METRICS_SCHEMA,
            )

        def _commit():
            return self.store.commit_round(
                r + 1,
                work.new_frontier,
                work.seen_delta,
                {"items": work.items, "fetch_log": work.fetch_log},
                lambda: {"phase": "round", "round": r, "outcomes": work.side.result()[0]},
                deferred_logs={"metrics": _metrics_fn},
            )

        work.commit_t0 = time.time()
        work.commit_fut = self._executor.submit(_commit)

    def _finalize_round(self, work: "_RoundWork", wall_s: float) -> RoundResult:
        """Phase C: wait for the commit, compact url_seen every
        ``seen_compact_every`` rounds, build the RoundResult.  Pins are
        NOT released here — ``run()`` frees them once the NEXT
        round's pins exist."""
        snapshot_id, table_counts = work.commit_fut.result()
        work.timings["commit"] = round(time.time() - work.commit_t0, 3)
        counts = work.side.result()[0]
        if (work.round_no + 1) % self.cfg.seen_compact_every == 0:
            self.store.compact_url_seen(work.round_no + 1)
        marker = self.store._marker(work.round_no + 1)
        if marker:
            work.timings["commit_tables"] = marker.get("write_times", {})
        return RoundResult(
            round_no=work.round_no,
            n_selected=counts.get("fetched", 0) + counts.get("failed", 0),
            n_fetched=counts.get("fetched", 0),
            n_failed=counts.get("failed", 0),
            n_items=table_counts.get("items", 0),
            n_new=table_counts.get("url_seen", 0),
            n_dup=counts.get("dup_dropped", 0),
            n_deferred=counts.get("deferred", 0),
            n_blocked=counts.get("robots_blocked", 0),
            frontier_size=table_counts.get("frontier", 0),
            wall_s=wall_s,
            snapshot_id=snapshot_id,
            timings=work.timings,
        )

    def _discard_work(self, work: "_RoundWork") -> None:
        """Drop a speculatively computed round without committing it
        (pause raced ahead of the pipeline).  Deterministic recompute on
        resume makes the discard invisible to parity.  The side job
        reads the pins, so it ends before they are freed."""
        wait([work.side])
        _release(work.pins)

    def run(
        self,
        seed_rows: Optional[list[dict]] = None,
        max_rounds: int = 50,
        resume: bool = False,
    ) -> CrawlSummary:
        """Execute (engine.go:191-194): bootstrap (unless resuming),
        then loop rounds until the frontier drains or max_rounds.

        The loop PIPELINES round N+1's compute phase with round N's
        commit: compute(N+1) runs against the in-memory new_frontier and
        (committed url_seen ∪ pinned delta) while the commit thread
        writes round N's tables.  One two-worker executor runs the
        commits and the rounds' side jobs: a round's side job overlaps
        the previous round's commit, and commits never overlap.  Crash mid-commit is still safe — the marker is the
        visibility point and commits launch strictly in round order, so
        resume restarts from the last committed round and recomputes the
        (deterministic) lost round bit-identically."""
        if resume:
            start = self.store.last_committed_round()
            if start is None:
                raise RuntimeError("resume requested but no committed snapshot found")
        else:
            assert seed_rows is not None, "seed_rows required for a fresh crawl"
            self.bootstrap(seed_rows)
            start = 0

        self.events.emit(ev.START, round_no=start, resumed=resume)
        summary = CrawlSummary()
        r = start
        self._lifecycle = "running"
        pending: Optional[_RoundWork] = None
        self._executor = ThreadPoolExecutor(max_workers=2)
        last_done = time.time()

        def _finalize_pending() -> None:
            """Wait for the in-flight commit, record its round.  wall_s
            is the round CADENCE (time since the previous round fully
            landed) — with pipelining that is max(compute, commit), the
            honest per-round throughput denominator."""
            nonlocal pending, last_done
            if pending is None:
                return
            result = self._finalize_round(pending, wall_s=0.0)
            done = time.time()
            result.wall_s = round(done - last_done, 3)
            last_done = done
            summary.rounds.append(result)
            # one tick == one round: the reference's heartbeat ticker
            self.events.emit(
                ev.HEARTBEAT, round_no=result.round_no, fetched=result.n_fetched
            )
            self.events.emit(ev.ROUND_END, round_no=result.round_no, result=result)
            # safe to free now: the commit is done and the NEXT round's
            # pins (if any) were materialized before this call
            _release(pending.pins)
            pending = None

        try:
            while r < start + max_rounds:
                if pending is None and self._pause_requested:
                    # cooperative pause between rounds (service.go:64-147
                    # SetStatus(pause) semantics): the last commit marker
                    # is the checkpoint; run(resume=True) continues
                    self._pause_requested = False
                    self._lifecycle = "paused"
                    self.events.emit(ev.PAUSE, round_no=r)
                    break
                if pending is None:
                    frontier = self.store.read_frontier(r)
                    url_seen = self.store.read_url_seen(r)
                else:
                    # round r's inputs: the previous round's pinned
                    # new_frontier, and url_seen as committed through
                    # store round r-1 (finalized, so immutable) unioned
                    # with the pinned delta whose commit (v_r) may still
                    # be in flight
                    frontier = pending.new_frontier
                    url_seen = self.store.read_url_seen(r - 1).unionByName(
                        pending.seen_delta
                    )
                if frontier.isEmpty():
                    break
                self.events.emit(ev.ROUND_START, round_no=r)
                work = self._compute_round(r, frontier, url_seen)
                # round r-1's commit ran concurrently with that compute
                _finalize_pending()
                if self._pause_requested:
                    # the pause landed while round r computed ahead of
                    # the pipeline — honor it WITHOUT committing round r
                    # (deterministic recompute on resume, parity-safe)
                    self._pause_requested = False
                    self._lifecycle = "paused"
                    self._discard_work(work)
                    self.events.emit(ev.PAUSE, round_no=r)
                    break
                self._launch_commit(work)
                pending = work
                r += 1
            _finalize_pending()
        except Exception as e:  # noqa: BLE001 — notify hooks, then re-raise
            self.events.emit(ev.ERROR, round_no=r, error=e)
            raise
        finally:
            if pending is not None and pending.commit_fut is not None:
                try:  # never abandon a half-launched commit thread
                    pending.commit_fut.result()
                except Exception:  # noqa: BLE001
                    pass
            self._executor.shutdown(wait=True)
            self._executor = None
            if self._lifecycle == "running":  # drained / max_rounds / error
                self._lifecycle = "idle"
        self.events.emit(ev.STOP, round_no=r, total_fetched=summary.total_fetched)
        return summary

    # ------------------------------------------------------------------
    # control plane (service/service.go:64-147 SetStatus/GetStatus as a
    # driver-side surface: pause cooperatively, read status cheaply)
    # ------------------------------------------------------------------

    def request_pause(self) -> None:
        """Pause at the next round boundary (callable from an event
        handler or another driver thread).  The committed snapshot is
        the checkpoint; ``run(resume=True)`` continues the crawl."""
        self._pause_requested = True

    def status(self) -> dict:
        """Live crawl status from commit metadata — zero Spark jobs
        (GetStatus analog): the last marker alone, whose ``stats``
        carry the running totals."""
        last = self.store.last_committed_round()
        if last is None:
            return {
                "state": "unstarted",
                "pause_requested": self._pause_requested,
                "last_committed_round": None,
            }
        marker = self.store._marker(last)
        totals = marker["stats"]["totals"]
        return {
            "state": self._lifecycle,
            "pause_requested": self._pause_requested,
            "last_committed_round": last,
            "snapshot_id": marker["snapshot_id"],
            "frontier_size": marker["row_counts"].get("frontier", 0),
            "url_seen_total": totals["url_seen"],
            "outcome_totals": totals["outcomes"],
        }
