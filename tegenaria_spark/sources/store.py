"""Snapshot store: per-round atomic commits, resume, lineage.

Replaces the reference's Redis queue + InfluxDB stats pair
(/root/reference/distributed/queue.go, distributed/stats.go) with one
table-versioned store, and gives the engine the north_rule checkpoint
semantics: every crawl round commits a snapshot; a restarted driver
resumes from the last *committed* round (Q7, engine.go:222-230
pause/resume made durable).

Layout (an Iceberg-shaped fallback on plain parquet — the interface is
what Iceberg's catalog would provide; swap ``LocalSnapshotStore`` for an
Iceberg writer and nothing above this module changes):

    root/
      state/frontier/v{r}/          the whole frontier as of end of round
                                    r, rewritten every round: each
                                    version stands alone, so expiring
                                    v{<r} is a plain directory delete
      state/url_seen/v{r}/          append-only delta per round
      state/url_seen_base/v{r}/     periodic compaction of deltas ≤ r
                                    (read = newest base + later deltas)
      logs/{items,fetch_log,metrics,lineage}/r{r}/
      commits/round-{r}.json        written LAST — the atomic commit
                                    marker (stats with running totals,
                                    row counts, paths)

A round is visible iff its marker exists; crash mid-round leaves
orphan data dirs that the next run ignores and overwrites.  With real
Iceberg, the frontier becomes one table whose snapshots share unchanged
data files through the manifest list (so commit I/O could follow churn
via row-level MERGE), and compaction plus old-version deletes become
snapshot expiration — the fallback keeps the same read/write API.

HARD CONSTRAINT (recorded per r2 VERDICT #8): no Iceberg/Delta jars
ship in this environment (no network, no ``--packages``), so the real
table format cannot be spiked here.  What the fallback DOES guarantee,
and what tests/test_store.py locks in:

- committed data dirs are immutable (a writer only creates its own
  round's dirs and clears orphans of its own round), the marker
  rename is the single atomic visibility point, and a reader that
  pins a committed round sees a consistent snapshot while later
  rounds commit concurrently
  (test_concurrent_reader_snapshot_isolation);
- MULTI-WRITER commit concurrency control: a writer claims a round
  with an O_EXCL claim file before touching any data dir and
  publishes with an O_EXCL marker create, so of any number of
  engines racing the same round on one root, exactly ONE commits
  and the rest raise :class:`CommitConflictError` *before*
  clobbering the winner's data (test_multi_writer_*).  This is the
  shape of Iceberg's optimistic catalog CAS, pessimistic at
  round granularity (losers abort at claim time instead of after a
  wasted write — strictly cheaper when attempts are deterministic
  replays, as crawl rounds are).  Claim staleness is pid-liveness
  on one host; on an object store, swap both O_EXCL points for the
  catalog's compare-and-swap;
- schema evolution ON READ for the append tables: ``read_log``
  merges per-round footer schemas (new columns appear as nulls in
  older rounds' rows — Iceberg's add-column semantics).

What it still does NOT give (real Iceberg would): row-level MERGE,
schema evolution for renames/drops, and retention-safe time travel
(``compact_url_seen`` keeps delta dirs, but a hostile cleaner could
break readers pinned to pre-compaction rounds).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from tegenaria_spark.schemas import (
    FRONTIER_STATE_SCHEMA,
    LINEAGE_SCHEMA,
    URL_SEEN_SCHEMA,
)


class CommitConflictError(RuntimeError):
    """Another writer holds (or already committed) this round.

    Raised BEFORE any data dir of the conflicting attempt is touched;
    the loser's store is left exactly as it was."""


class LocalSnapshotStore:
    def __init__(self, root: str, spark: SparkSession, fp_buckets: int = 16):
        self.root = root
        self.spark = spark
        self.fp_buckets = fp_buckets
        os.makedirs(os.path.join(root, "commits"), exist_ok=True)

    # -- commit protocol ----------------------------------------------------

    def last_committed_round(self) -> Optional[int]:
        cdir = os.path.join(self.root, "commits")
        rounds = [
            int(f[len("round-") : -len(".json")])
            for f in os.listdir(cdir)
            if f.startswith("round-") and f.endswith(".json")
        ]
        return max(rounds) if rounds else None

    def _marker(self, r: int) -> Optional[dict]:
        """The commit marker of round *r* (None if not committed) — the
        one reader of commit metadata."""
        path = os.path.join(self.root, "commits", f"round-{r}.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def _totals(self, r: int) -> dict:
        """Running totals through committed round *r*, from its marker
        alone: ``{"outcomes": {name: n}, "url_seen": rows}`` — no Spark
        job, and no read of earlier markers."""
        m = self._marker(r)
        if m is None:
            raise FileNotFoundError(f"round {r} is not committed")
        return m["stats"]["totals"]

    def url_seen_total(self, upto_round: int) -> int:
        """Cumulative seen-set size through *upto_round*."""
        return self._totals(upto_round)["url_seen"]

    def _state_path(self, table: str, r: int) -> str:
        return os.path.join(self.root, "state", table, f"v{r}")

    def _log_path(self, table: str, r: int) -> str:
        # rows carry their own `round` column; dir name is plain (not
        # partition-style) so parquet partition inference can't collide
        return os.path.join(self.root, "logs", table, f"r{r}")

    @staticmethod
    def _write_local_parquet(rows: list[tuple], schema, path: str) -> int:
        """Driver-local parquet write for TINY driver-built tables
        (metrics, lineage — a handful of rows per round built from
        collected counters).  r6 (guide §1.2 per-round constants): the
        old path ran ``spark.createDataFrame(...).write.parquet`` — a
        full Spark job (~0.5-1 s of scheduling latency) per table per
        commit, pure non-scaling constant.  These tables are
        driver-side METADATA by construction (like the commit marker
        json), so a pyarrow write is the honest implementation at every
        scale.  Types map 1:1 onto what Spark's writer would emit;
        readers (``spark.read.parquet`` / ``read_log`` footer-merge)
        see an identical table.  Returns the row count."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import (
            BooleanType,
            DoubleType,
            IntegerType,
            LongType,
            StringType,
        )

        type_map = {
            IntegerType: pa.int32(),
            LongType: pa.int64(),
            StringType: pa.string(),
            BooleanType: pa.bool_(),
            DoubleType: pa.float64(),
        }
        fields = [
            pa.field(f.name, type_map[type(f.dataType)], f.nullable)
            for f in schema.fields
        ]
        cols = {
            f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)
        }
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.Table.from_pydict(cols, schema=pa.schema(fields)),
            os.path.join(path, "part-00000-driver.parquet"),
        )
        return len(rows)

    @staticmethod
    def _scan_parts(path: str) -> list[tuple[str, int]]:
        """(file, num_rows) for every parquet part in *path* — a pure
        footer/metadata read, zero Spark jobs (the manifest scan Iceberg
        would give us)."""
        import pyarrow.parquet as pq

        out = []
        for f in sorted(os.listdir(path)):
            if f.startswith("part-") and f.endswith(".parquet"):
                full = os.path.join(path, f)
                out.append((full, int(pq.ParquetFile(full).metadata.num_rows)))
        return out

    def commit_round(
        self,
        r: int,
        frontier: DataFrame,
        url_seen_delta: DataFrame,
        logs: dict[str, DataFrame],
        stats: dict,
        deferred_logs: Optional[dict] = None,
    ) -> tuple[str, dict[str, int]]:
        """Write state + appends, then the marker.

        ``deferred_logs``: {name: fn(table_counts) -> (rows, schema)} —
        small driver-built append tables derived from the OTHER tables'
        committed row counts (e.g. the metrics table needs the items
        count, which falls out of the items write's parquet footers — a
        separate ``items.count()`` job would be pure per-round
        constant).  Each fn is called after the main writes with the
        footer-based counts accumulated so far.

        Returns ``(snapshot_id, row_counts_per_table)`` — counts fall out
        of the footer pass, so callers never need a count job.

        The marker's ``stats`` gains ``totals``: round *r - 1*'s totals
        plus this commit's ``stats["outcomes"]`` and url_seen rows, so
        rounds commit in order (round *r - 1* must be committed).

        Raises :class:`CommitConflictError` if another live writer has
        claimed round *r* or a marker for it already exists — before
        any data dir is touched (multi-writer safety; module docstring).
        """
        prev = self._totals(r - 1) if r else {"outcomes": {}, "url_seen": 0}
        snapshot_id = f"snap-{r}-{uuid.uuid4().hex[:12]}"
        self._claim_round(r, snapshot_id)
        try:
            return self._commit_round_claimed(
                r,
                snapshot_id,
                frontier,
                url_seen_delta,
                logs,
                stats,
                prev,
                deferred_logs,
            )
        finally:
            self._release_claim(r, snapshot_id)

    def _claim_path(self, r: int) -> str:
        return os.path.join(self.root, "commits", f".round-{r}.claim")

    def _claim_round(self, r: int, snapshot_id: str) -> None:
        """O_EXCL claim on round *r* — the pre-write mutual-exclusion
        point.  A marker already present is a conflict regardless of
        claims; a live claim by another pid is a conflict; a claim whose
        owner is dead (crashed writer) is stolen."""
        if self._marker(r) is not None:
            raise CommitConflictError(f"round {r} is already committed")
        path = self._claim_path(r)
        payload = json.dumps(
            {"snapshot_id": snapshot_id, "pid": os.getpid()}
        ).encode()
        for _attempt in range(2):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, payload)
                os.close(fd)
                return
            except FileExistsError:
                try:
                    with open(path) as fh:
                        holder = json.load(fh)
                except (OSError, ValueError):
                    holder = None  # holder mid-write or just released: retry
                if holder is not None:
                    if holder.get("snapshot_id") == snapshot_id:
                        return
                    pid = int(holder.get("pid", -1))
                    alive = False
                    if pid > 0:
                        try:
                            os.kill(pid, 0)
                            alive = True
                        except ProcessLookupError:
                            alive = False
                        except PermissionError:
                            alive = True  # exists, not ours to signal
                    if alive:
                        # live holder — another process, or another thread
                        # of this one (same pid, different snapshot_id):
                        # either way the round is taken
                        raise CommitConflictError(
                            f"round {r} is claimed by live writer pid {pid} "
                            f"({holder.get('snapshot_id')})"
                        )
                # dead owner: steal by removing the stale claim and retrying
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
        raise CommitConflictError(f"round {r}: claim contention did not settle")

    def _release_claim(self, r: int, snapshot_id: str) -> None:
        path = self._claim_path(r)
        try:
            with open(path) as fh:
                holder = json.load(fh)
            if holder.get("snapshot_id") == snapshot_id:
                os.unlink(path)
        except (OSError, ValueError):
            pass

    def _commit_round_claimed(
        self,
        r: int,
        snapshot_id: str,
        frontier: DataFrame,
        url_seen_delta: DataFrame,
        logs: dict[str, DataFrame],
        stats: dict,
        prev_totals: dict,
        deferred_logs: Optional[dict] = None,
    ) -> tuple[str, dict[str, int]]:
        lineage_rows = []

        write_times: dict[str, float] = {}
        max_files = int(os.environ.get("TEGENARIA_COMMIT_MAX_FILES", "16"))

        import threading
        from concurrent.futures import ThreadPoolExecutor

        _lineage_lock = threading.Lock()

        def write(df: DataFrame, path: str, table: str) -> None:
            from pyspark.sql.types import BinaryType

            _t0 = time.time()
            if os.path.exists(path):
                shutil.rmtree(path)  # orphan from a crashed attempt
            # unions of checkpointed branches accumulate partitions
            # (hundreds of tiny files/tasks per write otherwise);
            # coalesce is shuffle-free over pinned blocks
            if df.rdd.getNumPartitions() > max_files:
                df = df.coalesce(max_files)
            writer = df.write.mode("overwrite")
            if table == "items" and any(
                isinstance(f.dataType, BinaryType) for f in df.schema.fields
            ):
                # the items payload (image bytes) is ALREADY compressed
                # (PNG/JPEG) — snappy on top re-compresses incompressible
                # data: pure CPU burn on the commit path's biggest table.
                # The frontier's `body` column is a request body and
                # compresses like any other column.
                writer = writer.option("compression", "uncompressed")
            writer.parquet(path)
            write_times[table] = round(time.time() - _t0, 2)
            rows = [
                (r, table, pid, snapshot_id, n)
                for pid, (_f, n) in enumerate(self._scan_parts(path))
            ]
            with _lineage_lock:
                lineage_rows.extend(rows)

        # concurrent writes: Spark schedules jobs from multiple driver
        # threads, so commit wall time is the slowest table, not the sum
        jobs = [
            (frontier, self._state_path("frontier", r), "frontier"),
            (url_seen_delta, self._state_path("url_seen", r), "url_seen"),
        ]
        jobs += [(df, self._log_path(name, r), name) for name, df in logs.items()]
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futures = [pool.submit(write, *j) for j in jobs]
            for f in futures:
                f.result()
        if deferred_logs:
            partial_counts: dict[str, int] = {}
            for _, table, _, _, n in lineage_rows:
                partial_counts[table] = partial_counts.get(table, 0) + n
            for name, fn in deferred_logs.items():
                # (rows, schema): driver-built tiny table — written
                # without a Spark job (see _write_local_parquet)
                _t0 = time.time()
                d_rows, d_schema = fn(partial_counts)
                n = self._write_local_parquet(d_rows, d_schema, self._log_path(name, r))
                write_times[name] = round(time.time() - _t0, 2)
                lineage_rows.append((r, name, 0, snapshot_id, n))
                logs = {**logs, name: None}  # marker["tables"] lists it

        lineage_rows.sort(key=lambda t: (t[1], t[2]))

        self._write_local_parquet(
            lineage_rows, LINEAGE_SCHEMA, self._log_path("lineage", r)
        )

        if callable(stats):  # resolved late: may depend on side jobs that
            stats = stats()  # overlapped with the table writes above
        table_counts: dict[str, int] = {}
        for _, table, _, _, n in lineage_rows:
            table_counts[table] = table_counts.get(table, 0) + n
        outcomes = dict(prev_totals["outcomes"])
        for k, v in (stats.get("outcomes") or {}).items():
            outcomes[k] = outcomes.get(k, 0) + v
        totals = {
            "outcomes": outcomes,
            "url_seen": prev_totals["url_seen"] + table_counts.get("url_seen", 0),
        }
        marker = {
            "round": r,
            "snapshot_id": snapshot_id,
            "stats": {**stats, "totals": totals},
            "tables": {t: self._log_path(t, r) for t in logs} | {
                "frontier": self._state_path("frontier", r),
                "url_seen_delta": self._state_path("url_seen", r),
            },
            "row_counts": table_counts,
            "write_times": write_times,
        }

        tmp = os.path.join(self.root, "commits", f".round-{r}.{snapshot_id}.tmp")
        final = os.path.join(self.root, "commits", f"round-{r}.json")
        with open(tmp, "w") as fh:
            json.dump(marker, fh, indent=2)
        try:
            # O_EXCL publish (link fails if the marker exists): the
            # atomic commit point, first-writer-wins even if a stale
            # claim was stolen mid-race
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflictError(
                f"round {r} was committed by another writer during this attempt"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        return snapshot_id, table_counts

    # -- maintenance ----------------------------------------------------------

    def _latest_seen_base(self, upto_round: int) -> Optional[int]:
        base_dir = os.path.join(self.root, "state", "url_seen_base")
        if not os.path.isdir(base_dir):
            return None
        rounds = [
            int(d[1:])
            for d in os.listdir(base_dir)
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) <= upto_round
        ]
        return max(rounds) if rounds else None

    def compact_url_seen(self, upto_round: int) -> None:
        """Merge delta dirs ≤ *upto_round* into one base snapshot —
        read_url_seen then touches O(rounds-since-compaction) dirs
        instead of O(rounds).  Written to a temp dir and renamed, so a
        crash mid-compaction never corrupts reads (Iceberg's snapshot
        expiration analog)."""
        df = self.read_url_seen(upto_round)
        final = self._state_path("url_seen_base", upto_round)
        tmp = final + ".inprogress"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.repartition(max(1, self.fp_buckets // 4), "fp").write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)

    # -- reads ---------------------------------------------------------------

    def read_frontier(self, r: int) -> DataFrame:
        """Frontier state at end of round r: the snapshot ``v{r}`` alone."""
        m = self._marker(r)
        if m is None:
            raise FileNotFoundError(f"no committed frontier for round {r}")
        if not m["row_counts"].get("frontier", 0):
            return self.spark.createDataFrame([], FRONTIER_STATE_SCHEMA)
        return self.spark.read.schema(FRONTIER_STATE_SCHEMA).parquet(
            self._state_path("frontier", r)
        )

    def read_url_seen(self, upto_round: int) -> DataFrame:
        base = self._latest_seen_base(upto_round)
        start = 0 if base is None else base + 1
        paths = ([self._state_path("url_seen_base", base)] if base is not None else []) + [
            self._state_path("url_seen", i)
            for i in range(start, upto_round + 1)
            if os.path.exists(self._state_path("url_seen", i))
        ]
        if not paths:
            return self.spark.createDataFrame([], URL_SEEN_SCHEMA)
        return self.spark.read.schema(URL_SEEN_SCHEMA).parquet(*paths)

    def read_log(self, table: str, upto_round: Optional[int] = None) -> DataFrame:
        base = os.path.join(self.root, "logs", table)
        if not os.path.exists(base):
            raise FileNotFoundError(base)
        last = self.last_committed_round()
        if upto_round is None and last is None:
            raise RuntimeError(
                f"read_log({table!r}): no committed rounds yet — nothing to read"
            )
        upto = last if upto_round is None else upto_round
        paths = [
            self._log_path(table, i)
            for i in range(upto + 1)
            if os.path.exists(self._log_path(table, i))
        ]
        if not paths:
            raise RuntimeError(
                f"read_log({table!r}): no data dirs for rounds 0..{upto} under {base}"
            )
        # schema evolution on read: a column added in a later round
        # surfaces as nulls in earlier rounds' rows (footer-merge is the
        # plain-parquet analog of Iceberg's add-column; renames/drops
        # are out of scope — module docstring)
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)
