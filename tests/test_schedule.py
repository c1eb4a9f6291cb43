"""Scheduler semantics through the engine's ``schedule_round``: budget
window (limiter_test.go analogue), priority order, sleeping rows,
salting.  Robots decisions are covered in test_robots.py."""

from __future__ import annotations

import re
from datetime import datetime, timezone

import pyspark.sql.functions as F

from tegenaria_spark.config import EngineConfig
from tegenaria_spark.operators.schedule import politeness_dim, salt_for_fetch, schedule_round

CFG = EngineConfig(shuffle_partitions=8)


def _ms(round_no: int) -> int:
    return CFG.epoch_ms + round_no * CFG.round_interval_s * 1000


def _ts(round_no: int):
    return datetime.fromtimestamp(_ms(round_no) / 1000, tz=timezone.utc)


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows,
        "ctx_id string, canon_url string, domain string, priority int, "
        "enqueue_seq bigint, next_fetch_time timestamp",
    )


def _budget(domain: str, budget: int, max_conns: int = 128) -> dict:
    return {"domain": domain, "budget_per_round": budget, "max_conns": max_conns}


def _by_sched(decided) -> dict[str, list]:
    """Collected rows grouped by ``sched``, each group in enqueue order;
    ``next_ms`` is ``next_fetch_time`` in epoch milliseconds."""
    out: dict[str, list] = {}
    rows = decided.withColumn("next_ms", F.unix_millis("next_fetch_time"))
    for r in rows.orderBy("enqueue_seq").collect():
        out.setdefault(r["sched"], []).append(r)
    return out


def test_budget_64_requests_rate_16_takes_4_rounds(spark):
    """limiter_test.go:17-29: 64 acquisitions at rate 16/s need >2s —
    in batch semantics: 64 same-domain requests, budget 16 ⇒ exactly 4
    rounds of 16."""
    rows = [
        (f"c{i}", f"http://d.io/p/{i}?", "d.io", 0, i, _ts(0)) for i in range(64)
    ]
    frontier = _frontier(spark, rows)
    politeness = politeness_dim(spark, None, [_budget("d.io", 16)])
    fetched_per_round = []
    for r in range(5):
        decided = schedule_round(frontier, politeness, r, CFG).localCheckpoint()
        fetched_per_round.append(decided.filter(F.col("sched") == "selected").count())
        frontier = decided.filter(F.col("sched") != "selected").drop("sched", "fetch_slots")
        if frontier.isEmpty():
            break
    assert fetched_per_round == [16, 16, 16, 16]


def test_budget_orders_by_priority_then_seq(spark):
    rows = [
        ("low", "http://d.io/a?", "d.io", 5, 1, _ts(0)),
        ("hi-late", "http://d.io/b?", "d.io", 0, 9, _ts(0)),
        ("hi-early", "http://d.io/c?", "d.io", 0, 2, _ts(0)),
    ]
    politeness = politeness_dim(spark, None, [_budget("d.io", 2)])
    got = _by_sched(schedule_round(_frontier(spark, rows), politeness, 0, CFG))
    assert set(got) == {"selected", "deferred"}
    assert {r["ctx_id"] for r in got["selected"]} == {"hi-early", "hi-late"}
    assert [r["ctx_id"] for r in got["deferred"]] == ["low"]
    # a deferred row moves to the next round's timestamp
    assert got["deferred"][0]["next_ms"] == _ms(1)


def test_budget_default_when_domain_unknown(spark):
    rows = [(f"c{i}", "http://x.io/p?", "x.io", 0, i, _ts(0)) for i in range(40)]
    politeness = politeness_dim(spark, None, None)
    got = _by_sched(schedule_round(_frontier(spark, rows), politeness, 0, CFG))
    assert len(got["selected"]) == CFG.default_budget_per_round
    assert len(got["deferred"]) == 40 - CFG.default_budget_per_round


def test_future_rows_stay_sleeping(spark):
    """A row whose ``next_fetch_time`` is after the round neither
    fetches nor takes a budget slot, and keeps its timestamp."""
    rows = [
        ("now", "http://d.io/a?", "d.io", 0, 1, _ts(0)),
        ("later", "http://d.io/b?", "d.io", 0, 2, _ts(3)),
    ]
    politeness = politeness_dim(spark, None, [_budget("d.io", 1)])
    got = _by_sched(schedule_round(_frontier(spark, rows), politeness, 0, CFG))
    assert set(got) == {"selected", "sleeping"}
    assert [r["ctx_id"] for r in got["selected"]] == ["now"]
    assert [r["ctx_id"] for r in got["sleeping"]] == ["later"]
    assert got["sleeping"][0]["next_ms"] == _ms(3)


def test_salting_spreads_hot_domain(spark):
    rows = [(f"c{i}", f"http://hot.io/p/{i}?", "hot.io", 0, i, _ts(0)) for i in range(200)]
    decided = schedule_round(
        _frontier(spark, rows), politeness_dim(spark, None, [_budget("hot.io", 200)]), 0, CFG
    )
    salted = salt_for_fetch(decided.drop("sched"), CFG)
    pids = salted.select(F.spark_partition_id().alias("pid")).distinct().count()
    # one hot domain must land on >1 task (salt width 4)
    assert pids > 1


def _joins(df) -> int:
    """Join nodes in *df*'s optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(1 for line in plan.splitlines() if re.match(r"^[\s:+-]*Join ", line))


def test_politeness_dim_one_join_four_domain_kinds(spark):
    """The politeness dim's meaning for the four kinds of domain —
    rules only, budget only, both, neither — read through the one join
    of ``schedule_round``: the robots decision, the budget (default
    when the domain has no budget row) and the fetch slot cap
    ``min(S, max_conns)`` (S when the domain has no cap).  The round
    joins the dim once and ``salt_for_fetch`` joins nothing."""
    s = CFG.domain_salt_width
    robots = [
        {"domain": d, "path_prefix": "/x", "allow": False} for d in ("rules.io", "both.io")
    ]
    budgets = [_budget("budget.io", 1, max_conns=2), _budget("both.io", 2, max_conns=1)]
    politeness = politeness_dim(spark, robots, budgets)
    dim = {r["domain"]: r for r in politeness.collect()}
    # one row per domain with rules or a budget; a missing part is NULL
    assert set(dim) == {"rules.io", "budget.io", "both.io"}
    assert dim["rules.io"]["budget_per_round"] is None and dim["rules.io"]["max_conns"] is None
    assert dim["budget.io"]["rules"] is None
    assert [(r["p"], r["a"], r["rx"]) for r in dim["both.io"]["rules"]] == [("/x", False, None)]

    n = CFG.default_budget_per_round + 2
    rows = [
        (f"{d}-{i}", f"http://{d}/{'x' if i == 0 else 'y'}/{i}?", d, 0, i, _ts(0))
        for d in ("rules.io", "budget.io", "both.io", "neither.io")
        for i in range(n)
    ]
    decided = schedule_round(_frontier(spark, rows), politeness, 0, CFG)
    assert _joins(decided) == 1
    got: dict[str, dict] = {}
    for r in decided.collect():
        dom = got.setdefault(r["domain"], {"slots": set()})
        dom[r["sched"]] = dom.get(r["sched"], 0) + 1
        dom["slots"].add(r["fetch_slots"])
    budget = CFG.default_budget_per_round
    assert got == {
        # rules, default budget, slot width S
        "rules.io": {"robots_blocked": 1, "selected": budget, "deferred": 1, "slots": {s}},
        # no rules, its budget, its cap
        "budget.io": {"selected": 1, "deferred": n - 1, "slots": {2}},
        # its rules, its budget, its cap
        "both.io": {"robots_blocked": 1, "selected": 2, "deferred": n - 3, "slots": {1}},
        # no dim row: allowed, default budget, slot width S
        "neither.io": {"selected": budget, "deferred": 2, "slots": {s}},
    }

    selected = decided.filter(F.col("sched") == "selected").drop("sched").localCheckpoint()
    salted = salt_for_fetch(selected, CFG)
    assert _joins(salted) == 0
    assert "fetch_slots" not in salted.columns
    assert salted.count() == 2 * budget + 3
