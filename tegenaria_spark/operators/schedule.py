"""Round scheduler: one politeness join (robots gate, per-domain
budget, connection cap), priority ranking, domain-salted repartition.

The reference throttles with wall-clock token/leaky buckets
(/root/reference/limiter.go:46-57 local, distributed/limiter.go:36-74
Redis Lua) and dequeues FIFO one request at a time (cache.go:69-76).
Batch semantics turn both into *set* operators:

- rate r req/s over a round of T seconds ⇒ per-domain budget = r·T
  rows per round (Q2/Q3).  Atomicity is free — one scheduler decision
  per round instead of a Lua script.
- FIFO ⇒ total order by (priority, next_fetch_time, enqueue_seq);
  ranking is a window ``row_number`` per domain (Q1).

Every per-domain fact — robots rules, budget, MaxConnsPerHost cap —
lives in one :func:`politeness_dim` row, built once per engine and
broadcast-joined once per round by :func:`schedule_round`.

Rows over budget are deferred: ``next_fetch_time`` moves to the next
round and they stay in the frontier (the reference blocks the goroutine
instead — same effective schedule, provably: both fetch exactly the
first ``budget`` eligible requests per domain per interval).

Skew (north_rule): one hot domain would otherwise pin a single task, so
the *fetch* stage repartitions by ``hash(domain) % 8P * S + hash(url) %
fetch_slots`` — the per-domain budget was already enforced pre-split,
so politeness survives the fan-out while the hot domain spreads over
up to S tasks (fewer when its connection cap is lower).
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from tegenaria_spark.config import EngineConfig


def round_ts_expr(round_no: int, cfg: EngineConfig):
    """Deterministic wall-clock stand-in: epoch + round·interval."""
    ms = cfg.epoch_ms + round_no * cfg.round_interval_s * 1000
    return F.timestamp_millis(F.lit(ms))


def robots_path(url: Column) -> Column:
    """The string robots rules match for *url*: its path (``/`` when
    empty) plus ``?query`` when the query is non-empty, as
    :func:`~tegenaria_spark.functions.robots.robots_allowed` sees it.
    Canonical URLs always end in ``?``; an empty query adds nothing, so
    ``$``-anchored rules still fire on them.  Split like ``urlsplit``
    by regex: ``parse_url`` raises on characters such as ``[`` or
    ``]``, which canonical paths keep (Go's ``EscapedPath`` leaves them;
    ``|`` and spaces it escapes)."""
    path = F.regexp_extract(url, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(url, r"^[^?#]*\?([^#]*)", 1)
    return F.when(query == "", path).otherwise(F.concat(path, F.lit("?"), query))


def _rule_regex(pattern: Column) -> Column:
    """RFC 9309 pattern → anchored Java regex, or NULL for a plain
    prefix (no ``*``, no trailing ``$``), which matches by
    ``startswith``.  Every non-alphanumeric character is escaped, then
    ``*`` becomes ``.*`` and a trailing ``$`` the end anchor; ``(?d)``
    gives ``.``/``$`` Python's line-terminator rules."""
    anchored = pattern.endswith("$")
    body = F.when(anchored, pattern.substr(F.lit(1), F.length(pattern) - 1)).otherwise(pattern)
    escaped = F.regexp_replace(body, r"([^A-Za-z0-9])", r"\\$1")
    rx = F.concat(
        F.lit("(?d)^"),
        F.replace(escaped, F.lit("\\*"), F.lit(".*")),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    return F.when(pattern.contains("*") | anchored, rx)


def politeness_dim(
    spark: SparkSession, robots_rows: Optional[list], budget_rows: Optional[list]
) -> DataFrame:
    """The per-domain politeness facts as ONE small frame, built once
    per engine from ROBOTS_SCHEMA / DOMAIN_BUDGET_SCHEMA dicts: a row per
    domain with rules or a budget row, holding ``domain``,
    ``budget_per_round``, ``max_conns`` and ``rules``, an array of
    ``(p, a, rx)`` (RFC 9309 pattern, allow flag, :func:`_rule_regex`).
    A missing part is NULL: no rules ⇒ allow, no budget ⇒
    ``default_budget_per_round``, no cap ⇒ the full salt width.  Rules
    group per domain here, on the driver, so no round regroups them."""
    rules: dict[str, list] = {}
    for r in robots_rows or ():
        rules.setdefault(r["domain"], []).append((r["path_prefix"], r["allow"]))
    budgets = {r["domain"]: (r["budget_per_round"], r["max_conns"]) for r in budget_rows or ()}
    dim = spark.createDataFrame(
        [
            (d, *budgets.get(d, (None, None)), rules.get(d))
            for d in sorted(rules.keys() | budgets.keys())
        ],
        "domain string, budget_per_round int, max_conns int, "
        "rules array<struct<p: string, a: boolean>>",
    )
    return dim.withColumn(
        "rules",
        F.transform(
            "rules",
            lambda r: F.struct(
                r["p"].alias("p"), r["a"].alias("a"), _rule_regex(r["p"]).alias("rx")
            ),
        ),
    )


def with_robots_allowed(df: DataFrame, politeness: DataFrame, path: Column) -> DataFrame:
    """*df* broadcast-joined ONCE to the :func:`politeness_dim` row of
    its domain, plus an ``_allowed`` column: the longest-match robots
    decision for *path* over that domain's ``rules``.  Equal length
    Allow beats Disallow (§2.2.2); no match or no rules ⇒ allow;
    specificity is ``length(pattern)``, as in ``robots_allowed``.  The
    dim's ``budget_per_round`` and ``max_conns`` ride along (NULL for a
    domain without a dim row) for :func:`schedule_round`.

    MAP-ONLY: the fold is a Catalyst ``aggregate`` over the row's whole
    rule list; the dim is grouped already, so nothing here shuffles."""
    return (
        df.withColumn("_path", path)
        .join(F.broadcast(politeness), "domain", "left")
        .withColumn(
            "_allowed",
            F.coalesce(
                F.expr(
                    """
                    aggregate(
                      filter(rules, r -> if(r.rx is null, startswith(_path, r.p),
                                            _path rlike r.rx)),
                      named_struct('len', -1, 'allow', true),
                      (acc, r) -> if(length(r.p) > acc.len
                                     or (length(r.p) = acc.len and r.a and not acc.allow),
                                     named_struct('len', length(r.p), 'allow', r.a),
                                     acc),
                      acc -> acc.allow
                    )
                    """
                ),
                F.lit(True),
            ),
        )
        .drop("rules", "_path")
    )


def schedule_round(
    frontier: DataFrame, politeness: DataFrame, round_no: int, cfg: EngineConfig
) -> DataFrame:
    """The whole scheduling decision as ONE pass over the frontier.

    Adds a ``sched`` column ∈ {selected, deferred, robots_blocked,
    sleeping} and ``fetch_slots``, and advances ``next_fetch_time`` for
    deferred rows.  The caller checkpoints the result once and slices
    by ``sched`` — the budget window (the round's main shuffle) runs
    exactly once instead of once per consumer
    (selected/deferred/frontier-rewrite).

    ONE JOIN: :func:`with_robots_allowed` joins *politeness* (a
    :func:`politeness_dim`) once, and that one row per domain gives the
    robots decision, the round budget and the connection cap
    (request.go:71 MaxConnsPerHost).  The cap becomes ``fetch_slots``,
    ``min(S, max_conns)`` (at least 1) for salt width S, which
    :func:`salt_for_fetch` reads off the row.

    ONE LINEAR PASS: the decision is three COLUMNS (``_ready``,
    ``_allowed``, ``_rank``) computed once on a single stream, and
    ``sched`` is a CASE over them.  Splitting the frontier into slices
    and unioning them back would re-derive the robots gate and the
    budget window once per union branch.  The budget window ranks
    within ``(domain, _ready AND _allowed)``, so sleeping and blocked
    rows never take a budget slot."""
    ts_now = round_ts_expr(round_no, cfg)
    s = cfg.domain_salt_width
    w = Window.partitionBy("domain", "_contend").orderBy(
        F.col("priority").asc(), F.col("next_fetch_time").asc(), F.col("enqueue_seq").asc()
    )
    ranked = (
        with_robots_allowed(frontier, politeness, robots_path(F.col("canon_url")))
        .withColumn("_ready", F.col("next_fetch_time") <= ts_now)
        .withColumn("_contend", F.col("_ready") & F.col("_allowed"))
        .withColumn(
            "_budget",
            F.coalesce(F.col("budget_per_round"), F.lit(cfg.default_budget_per_round)),
        )
        .withColumn(
            "fetch_slots",
            F.greatest(F.lit(1), F.least(F.lit(s), F.coalesce(F.col("max_conns"), F.lit(s)))),
        )
        .withColumn("_rank", F.row_number().over(w))
    )
    sched = (
        F.when(~F.col("_ready"), F.lit("sleeping"))
        .when(~F.col("_allowed"), F.lit("robots_blocked"))
        .when(F.col("_rank") <= F.col("_budget"), F.lit("selected"))
        .otherwise(F.lit("deferred"))
    )
    out_cols = [f.name for f in frontier.schema.fields]
    return (
        ranked.withColumn("sched", sched)
        .withColumn(
            "next_fetch_time",
            F.when(
                F.col("sched") == "deferred", round_ts_expr(round_no + 1, cfg)
            ).otherwise(F.col("next_fetch_time")),
        )
        .select(*out_cols, "sched", "fetch_slots")
    )


def salt_for_fetch(selected: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Explicit hot-domain kill: spread each domain over its
    ``fetch_slots`` (carried by :func:`schedule_round`) fetch tasks.

    ``salt = pmod(hash(domain), 8P)·S + pmod(hash(url), fetch_slots)``
    — same domain stays within an S-slot band (politeness already
    applied), a hot domain no longer serializes a round, and a domain
    never occupies more concurrent fetch tasks than its connection cap.
    No join: the cap came with the round's one politeness join."""
    p = cfg.fetch_partitions or cfg.shuffle_partitions * cfg.domain_salt_width
    # band modulus 8× the partition count: repartition() HASHES the salt,
    # so with only ~p distinct salt values balls-into-bins collisions make
    # some partitions 2-3× heavier — a straggler that caps fetch-stage
    # scaling once partitions ≈ cores (measured 0.58 eff at 8→32).  ~8
    # bands per partition + several waves per core keeps tasks uniform.
    band = F.pmod(F.hash("domain"), F.lit(p * 8))
    salt = (
        band * cfg.domain_salt_width + F.pmod(F.hash("canon_url"), F.col("fetch_slots"))
    ).alias("_salt")
    return selected.repartition(p, salt).drop("fetch_slots")
