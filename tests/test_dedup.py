"""Dedup gate semantics (mirrors dupefilters_test.go + bloom math)."""

from __future__ import annotations

import numpy as np
import pytest

from tegenaria_spark.operators.cuckoo import cuckoo_bucket_filter
from tegenaria_spark.operators.dedup import (
    Bloom,
    bloom_bucket_filter,
    dedup_gate,
    filter_delta_state,
    filter_fp_verdicts,
    optimal_num_of_bits,
    optimal_num_of_hash_functions,
    url_seen_delta,
)

CAND_SCHEMA = "ctx_id string, fp bigint, do_not_filter boolean, enqueue_seq bigint"


def _cands(spark, rows):
    return spark.createDataFrame(rows, CAND_SCHEMA)


def _seen(spark, fps):
    return spark.createDataFrame([(f, 0) for f in fps], "fp bigint, first_round int")


def test_bloom_math_matches_reference():
    # utils.go:78-87 with the defaults from components.go:71
    n, p = 1_048_576, 0.001
    m = optimal_num_of_bits(n, p)
    k = optimal_num_of_hash_functions(n, m)
    assert m == int(-n * np.log(p) / (np.log(2) ** 2))
    assert k == 10  # ln(0.001)/ln2 ≈ 9.97 → round(m/n·ln2) = 10


def test_bloom_no_false_negatives():
    b = Bloom.for_capacity(10_000, 0.01)
    rng = np.random.RandomState(3)
    fps = rng.randint(-(2**62), 2**62, size=5000, dtype=np.int64)
    b.add_many(fps)
    assert b.contains_many(fps).all()
    other = rng.randint(-(2**62), 2**62, size=5000, dtype=np.int64)
    fpr = b.contains_many(other).mean()
    assert fpr < 0.05  # p=0.01 target with slack


def test_dedup_drops_seen(spark):
    cands = _cands(
        spark,
        [("a", 1, False, 10), ("b", 2, False, 11), ("c", 3, False, 12)],
    )
    fresh, dup = dedup_gate(cands, _seen(spark, [2]))
    assert {r["ctx_id"] for r in fresh.collect()} == {"a", "c"}
    assert {r["ctx_id"] for r in dup.collect()} == {"b"}


def test_do_not_filter_bypasses(spark):
    # dupefilters.go:132-134: DoNotFilter requests pass AND never register
    cands = _cands(spark, [("a", 2, True, 10)])
    fresh, dup = dedup_gate(cands, _seen(spark, [2]))
    assert [r["ctx_id"] for r in fresh.collect()] == ["a"]
    assert dup.isEmpty()
    assert url_seen_delta(fresh, 1).isEmpty()


def test_within_batch_keeps_first_by_seq(spark):
    cands = _cands(
        spark,
        [("late", 7, False, 20), ("early", 7, False, 5), ("other", 8, False, 6)],
    )
    fresh, dup = dedup_gate(cands, _seen(spark, []))
    assert {r["ctx_id"] for r in fresh.collect()} == {"early", "other"}
    assert {r["ctx_id"] for r in dup.collect()} == {"late"}


B = 4
# (new, load) per filter; the bloom is sized far below its load (~54 %
# fill at p=0.3, k=1) so its verdicts carry false positives
FILTERS = {
    "bloom": lambda: bloom_bucket_filter(256, 0.3, B),
    "cuckoo": lambda: cuckoo_bucket_filter(4_000, B),
}


def _rand_fps(n, seed):
    rng = np.random.RandomState(seed)
    return [int(x) for x in rng.randint(-(2**62), 2**62, size=n, dtype=np.int64)]


def _gate_case(spark):
    """200 seen + 300 new candidates, a within-batch repeat and a
    do_not_filter row whose fp is seen."""
    seen_fps = _rand_fps(500, 5)
    new_fps = _rand_fps(300, 6)
    cand_rows = (
        [(f"s{i}", fp, False, i) for i, fp in enumerate(seen_fps[:200])]
        + [(f"n{i}", fp, False, 1000 + i) for i, fp in enumerate(new_fps)]
        + [("n0-again", new_fps[0], False, 5000), ("s0-bypass", seen_fps[0], True, 5001)]
    )
    return seen_fps, new_fps, _cands(spark, cand_rows), _seen(spark, seen_fps)


def test_gate_exact_result(spark):
    """fresh/dup are the exact set answer."""
    _seen_fps, _new_fps, cands, seen = _gate_case(spark)
    fresh, dup = dedup_gate(cands, seen)
    assert sorted(r["ctx_id"] for r in fresh.collect()) == sorted(
        [f"n{i}" for i in range(300)] + ["s0-bypass"]
    )
    assert sorted(r["ctx_id"] for r in dup.collect()) == sorted(
        [f"s{i}" for i in range(200)] + ["n0-again"]
    )


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_filter_verdicts_miss_no_seen_fp(spark, kind):
    """Per-bucket filter membership (A5): every seen fp is "maybe";
    the undersized bloom also says "maybe" to some new fps."""
    seen_fps, new_fps, cands, seen = _gate_case(spark)
    new, load = FILTERS[kind]()
    verdicts = filter_fp_verdicts(cands, filter_delta_state(seen, B, new), B, load)
    maybe = {r["fp"]: r["_maybe"] for r in verdicts.collect()}
    assert all(maybe[fp] for fp in seen_fps[:200])  # no false negatives
    if kind == "bloom":
        assert any(maybe[fp] for fp in new_fps)  # false positives


def test_gate_size_estimate_stays_bounded(spark):
    """A pinned gate output fed back as the next batch's input (as the
    engine does round over round) must not compound Catalyst's size
    estimate: a multiplying join grows it by url_seen's estimate per
    iteration."""
    seen = _seen(spark, list(range(0, 400, 2)))
    cands = _cands(spark, [(f"c{i}", i, False, i) for i in range(400)])
    bits = []
    for _ in range(8):
        fresh, _dup = dedup_gate(cands, seen)
        cands = fresh.localCheckpoint(eager=True)
        size = cands._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        bits.append(int(size).bit_length())
    assert cands.count() == 200
    assert max(bits) <= bits[0] + 32, bits


def test_url_seen_delta_distinct(spark):
    fresh = _cands(spark, [("a", 1, False, 1), ("b", 1, True, 2)])
    delta = url_seen_delta(fresh, 3)
    rows = delta.collect()
    assert len(rows) == 1 and rows[0]["fp"] == 1 and rows[0]["first_round"] == 3
