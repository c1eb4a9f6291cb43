"""Round scheduler: robots gate, politeness budgets, priority ranking,
domain-salted repartition.

The reference throttles with wall-clock token/leaky buckets
(/root/reference/limiter.go:46-57 local, distributed/limiter.go:36-74
Redis Lua) and dequeues FIFO one request at a time (cache.go:69-76).
Batch semantics turn both into *set* operators:

- rate r req/s over a round of T seconds ⇒ per-domain budget = r·T
  rows per round (Q2/Q3).  Atomicity is free — one scheduler decision
  per round instead of a Lua script.
- FIFO ⇒ total order by (priority, next_fetch_time, enqueue_seq);
  ranking is a window ``row_number`` per domain (Q1).

Rows over budget are deferred: ``next_fetch_time`` moves to the next
round and they stay in the frontier (the reference blocks the goroutine
instead — same effective schedule, provably: both fetch exactly the
first ``budget`` eligible requests per domain per interval).

Skew (north_rule): one hot domain would otherwise pin a single task, so
the *fetch* stage repartitions by ``hash(domain) % P * S + hash(url) % S``
— the per-domain budget was already enforced pre-split, so politeness
survives the fan-out while the hot domain spreads over S tasks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

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
    by regex: ``parse_url`` raises on characters such as ``|`` or a
    space, which canonical paths keep."""
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


def with_robots_allowed(df: DataFrame, robots: DataFrame, path: Column) -> DataFrame:
    """*df* plus an ``_allowed`` column: the longest-match robots
    decision for *path* over the row's domain's rules in *robots*
    (ROBOTS_SCHEMA; ``path_prefix`` holds an RFC 9309 pattern).  Equal
    length Allow beats Disallow (§2.2.2); no match ⇒ allow; specificity
    is ``length(pattern)``, as in ``robots_allowed``.

    MAP-ONLY: rules collapse to ONE array row per domain (the robots
    dim is tiny — that groupBy shuffles a few rules per domain, not
    *df*), each rule carrying its regex (built once per rule, NULL for
    a plain prefix), broadcast-join on ``domain``, and the fold runs as
    a Catalyst ``aggregate`` over the row's whole rule list."""
    rules_by_domain = F.broadcast(
        robots.withColumnRenamed("path_prefix", "p")
        .groupBy("domain")
        .agg(
            F.collect_list(
                F.struct("p", F.col("allow").alias("a"), _rule_regex(F.col("p")).alias("rx"))
            ).alias("_rules")
        )
    )
    return (
        df.withColumn("_path", path)
        .join(rules_by_domain, "domain", "left")
        .withColumn(
            "_allowed",
            F.coalesce(
                F.expr(
                    """
                    aggregate(
                      filter(_rules, r -> if(r.rx is null, startswith(_path, r.p),
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
        .drop("_rules", "_path")
    )


def schedule_round(
    frontier: DataFrame,
    robots: DataFrame,
    domain_budget: DataFrame,
    round_no: int,
    cfg: EngineConfig,
) -> DataFrame:
    """The whole scheduling decision as ONE pass over the frontier.

    Adds a ``sched`` column ∈ {selected, deferred, robots_blocked,
    sleeping} and advances ``next_fetch_time`` for deferred rows.  The
    caller checkpoints the result once and slices by ``sched`` — the
    budget window (the round's main shuffle) runs exactly once instead
    of once per consumer (selected/deferred/frontier-rewrite).

    ``robots``: ROBOTS_SCHEMA rules, ``*``/``$`` patterns included, all
    gated by :func:`with_robots_allowed` on each URL's path and query;
    ``None`` means no rules (every row allowed, no join).

    ONE LINEAR PASS: the decision is three COLUMNS (``_ready``,
    ``_allowed``, ``_rank``) computed once on a single stream, and
    ``sched`` is a CASE over them.  Splitting the frontier into slices
    and unioning them back would re-derive the robots gate and the
    budget window once per union branch.  The budget window ranks
    within ``(domain, _ready AND _allowed)``, so sleeping and blocked
    rows never take a budget slot."""
    ts_now = round_ts_expr(round_no, cfg)
    if robots is None:
        decided = frontier.withColumn("_allowed", F.lit(True))
    else:
        decided = with_robots_allowed(frontier, robots, robots_path(F.col("canon_url")))

    budgets = F.broadcast(
        domain_budget.select(
            F.col("domain").alias("_b_domain"), F.col("budget_per_round").alias("_budget")
        )
    )
    w = Window.partitionBy("domain", "_contend").orderBy(
        F.col("priority").asc(), F.col("next_fetch_time").asc(), F.col("enqueue_seq").asc()
    )
    ranked = (
        decided.withColumn("_ready", F.col("next_fetch_time") <= ts_now)
        .withColumn("_contend", F.col("_ready") & F.col("_allowed"))
        .join(budgets, F.col("domain") == F.col("_b_domain"), "left")
        .withColumn(
            "_budget", F.coalesce(F.col("_budget"), F.lit(cfg.default_budget_per_round))
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
        .select(*out_cols, "sched")
    )


def salt_for_fetch(
    selected: DataFrame, cfg: EngineConfig, domain_budget: DataFrame = None
) -> DataFrame:
    """Explicit hot-domain kill: spread each domain over S fetch tasks.

    ``salt = pmod(hash(domain), P)·S + pmod(hash(url), width)`` — same
    domain stays within an S-slot band (politeness already applied), a
    hot domain no longer serializes a round.

    Q4 (request.go:71 MaxConnsPerHost): with a budget dim, a domain's
    slot width is ``min(S, max_conns)`` — a domain never occupies more
    concurrent fetch tasks than its connection cap, which is exactly
    what the reference's per-host transport limit enforces."""
    p = cfg.fetch_partitions or cfg.shuffle_partitions * cfg.domain_salt_width
    s = cfg.domain_salt_width
    if domain_budget is not None and "max_conns" in domain_budget.columns:
        dim = F.broadcast(
            domain_budget.select(
                F.col("domain").alias("_mc_domain"), F.col("max_conns").alias("_max_conns")
            )
        )
        sel = selected.join(dim, F.col("domain") == F.col("_mc_domain"), "left").drop(
            "_mc_domain"
        )
        width = F.greatest(
            F.lit(1), F.least(F.lit(s), F.coalesce(F.col("_max_conns"), F.lit(s)))
        )
    else:
        sel = selected
        width = F.lit(s)
    # band modulus 8× the partition count: repartition() HASHES the salt,
    # so with only ~p distinct salt values balls-into-bins collisions make
    # some partitions 2-3× heavier — a straggler that caps fetch-stage
    # scaling once partitions ≈ cores (measured 0.58 eff at 8→32).  ~8
    # bands per partition + several waves per core keeps tasks uniform.
    band = F.pmod(F.hash("domain"), F.lit(p * 8))
    salt = (band * s + F.pmod(F.hash("canon_url"), width)).alias("_salt")
    return sel.repartition(p, salt).drop("_max_conns")
