"""Engine configuration.

Replaces the reference's viper YAML settings (settings.go:59-83) and the
hard-coded component defaults (components.go:71-73) with a plain
dataclass.  All scale knobs are parameterized so the same code runs at
test scale (2k URLs / 20 domains) and at the 10^10-URL design point
(bucket counts, salt width, bloom sizing all grow without code change).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # --- politeness / scheduling (reference: components.go:73 rate=16/s,
    # distributed/distributed.go:150 rate=32/s; we express wall-clock
    # token buckets as per-round budgets: budget = rate * round_interval).
    default_budget_per_round: int = 16
    round_interval_s: int = 1
    max_redirects: int = 3          # request.go:259
    max_retries: int = 3            # error re-enqueue cap (engine.go:269-277 path)

    # --- dedup / bloom (reference: components.go:71 n=1M p=0.001;
    # optimal m,k math ported from utils.go:78-87).
    bloom_n: int = 1_048_576
    bloom_p: float = 0.001
    # opt-in: the exact url_seen anti-join runs alone by default.  The
    # prefilter's verdicts only shrink the join's candidate side; the
    # url_seen side is still scanned and shuffled in full, so no url_seen
    # size makes it pay in this plan — it only adds a distinct, a cogroup,
    # two semi/anti splits and a merge per round, plus a first-use build
    # from all of url_seen.  Paired perfbench runs (local[4]) that changed
    # only this default: cpu_s_per_url fell 17.6 % on crawl_links and 17 %
    # on crawl_images, with identical crawls.
    bloom_enabled: bool = False
    # when enabled, the prefilter gates once url_seen holds this many fps
    bloom_min_seen: int = 4096
    # bitmap shards: one bloom bitmap per pmod(fp, B) bucket, built and
    # merged on executors (never on the driver).  At the 10^10 design
    # point (m ≈ 17 GB total) B = 2^10 keeps each shard ~17 MB; the
    # sandbox default keeps shards big enough to exercise multi-bucket
    # paths without drowning tiny tests in empty buckets.
    bloom_buckets: int = 16

    # --- url_seen hygiene: every K rounds compact the url_seen delta
    # dirs into a base snapshot, so a round's url_seen read opens
    # O(K) dirs instead of O(rounds).
    seen_compact_every: int = 8

    # --- partitioning / skew (north_rule: explicit salting).
    shuffle_partitions: int = 32
    domain_salt_width: int = 4      # S: one hot domain spreads over S tasks
    # fetch-stage task count (0 ⇒ shuffle_partitions · salt width).  Set
    # it to SEVERAL WAVES per core at the largest cluster size you run:
    # the fetch stage is the round's long pole, and with ~1 wave the
    # slowest task gates the whole stage (straggler) — many small tasks
    # let dynamic scheduling even the load.  A property of the DATA/plan,
    # so hold it fixed when comparing cluster sizes.
    fetch_partitions: int = 0
    # hash-bucket count for LocalSnapshotStore(fp_buckets=): the url_seen
    # compaction writes fp_buckets // 4 fp-hashed partitions.  Scale with
    # url_seen size; the sandbox default keeps file counts small.
    fp_buckets: int = 16

    # --- arrow batching (keeps a partition of images in executor memory)
    arrow_max_records_per_batch: int = 1024

    # --- determinism
    epoch_ms: int = 1_700_000_000_000   # fixed base "crawl start" timestamp

    # --- observability: which outcomes get per-row fetch_log entries.
    # The reference only *counts* (stats.go); per-row dup/deferral logs
    # are a test-scale affordance — production keeps the aggregate
    # metrics and logs only real fetch attempts.
    log_outcomes: tuple = (
        "fetched", "failed", "robots_blocked", "deferred", "dup_dropped", "invalid",
    )

    # --- markup: when True the fetch stage also returns the page's HTML
    # (``body_html`` column) so registered parsers can extract items and
    # outlinks from real markup (functions/html.py) instead of the
    # structured columns — the path a user porting a goquery spider
    # takes.  Off by default: the flagship image pipeline doesn't pay
    # for markup it never reads.
    render_html: bool = False

    extra_spark_conf: dict = field(default_factory=dict)

    @property
    def seq_stride(self) -> int:
        """enqueue_seq namespace per round: seq = round * stride + rank."""
        return 10**12


DEFAULT_CONFIG = EngineConfig()
