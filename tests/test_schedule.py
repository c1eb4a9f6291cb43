"""Scheduler semantics through the engine's ``schedule_round``: budget
window (limiter_test.go analogue), priority order, sleeping rows,
salting.  Robots decisions are covered in test_robots.py."""

from __future__ import annotations

from datetime import datetime, timezone

import pyspark.sql.functions as F

from tegenaria_spark.config import EngineConfig
from tegenaria_spark.operators.schedule import salt_for_fetch, schedule_round
from tegenaria_spark.schemas import DOMAIN_BUDGET_SCHEMA

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
    budgets = spark.createDataFrame([("d.io", 16, 128)], DOMAIN_BUDGET_SCHEMA)
    fetched_per_round = []
    for r in range(5):
        decided = schedule_round(frontier, None, budgets, r, CFG).localCheckpoint()
        fetched_per_round.append(decided.filter(F.col("sched") == "selected").count())
        frontier = decided.filter(F.col("sched") != "selected").drop("sched")
        if frontier.isEmpty():
            break
    assert fetched_per_round == [16, 16, 16, 16]


def test_budget_orders_by_priority_then_seq(spark):
    rows = [
        ("low", "http://d.io/a?", "d.io", 5, 1, _ts(0)),
        ("hi-late", "http://d.io/b?", "d.io", 0, 9, _ts(0)),
        ("hi-early", "http://d.io/c?", "d.io", 0, 2, _ts(0)),
    ]
    budgets = spark.createDataFrame([("d.io", 2, 128)], DOMAIN_BUDGET_SCHEMA)
    got = _by_sched(schedule_round(_frontier(spark, rows), None, budgets, 0, CFG))
    assert set(got) == {"selected", "deferred"}
    assert {r["ctx_id"] for r in got["selected"]} == {"hi-early", "hi-late"}
    assert [r["ctx_id"] for r in got["deferred"]] == ["low"]
    # a deferred row moves to the next round's timestamp
    assert got["deferred"][0]["next_ms"] == _ms(1)


def test_budget_default_when_domain_unknown(spark):
    rows = [(f"c{i}", "http://x.io/p?", "x.io", 0, i, _ts(0)) for i in range(40)]
    budgets = spark.createDataFrame([], DOMAIN_BUDGET_SCHEMA)
    got = _by_sched(schedule_round(_frontier(spark, rows), None, budgets, 0, CFG))
    assert len(got["selected"]) == CFG.default_budget_per_round
    assert len(got["deferred"]) == 40 - CFG.default_budget_per_round


def test_future_rows_stay_sleeping(spark):
    """A row whose ``next_fetch_time`` is after the round neither
    fetches nor takes a budget slot, and keeps its timestamp."""
    rows = [
        ("now", "http://d.io/a?", "d.io", 0, 1, _ts(0)),
        ("later", "http://d.io/b?", "d.io", 0, 2, _ts(3)),
    ]
    budgets = spark.createDataFrame([("d.io", 1, 128)], DOMAIN_BUDGET_SCHEMA)
    got = _by_sched(schedule_round(_frontier(spark, rows), None, budgets, 0, CFG))
    assert set(got) == {"selected", "sleeping"}
    assert [r["ctx_id"] for r in got["selected"]] == ["now"]
    assert [r["ctx_id"] for r in got["sleeping"]] == ["later"]
    assert got["sleeping"][0]["next_ms"] == _ms(3)


def test_salting_spreads_hot_domain(spark):
    rows = [(f"c{i}", f"http://hot.io/p/{i}?", "hot.io", 0, i, _ts(0)) for i in range(200)]
    salted = salt_for_fetch(_frontier(spark, rows), CFG)
    pids = salted.select(F.spark_partition_id().alias("pid")).distinct().count()
    # one hot domain must land on >1 task (salt width 4)
    assert pids > 1
