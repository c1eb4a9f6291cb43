"""Cuckoo-filter URL-seen membership: no false negatives, bounded FPR,
TestOrAdd, deletion (the capability bloom lacks) and deterministic
state.  The distributed per-bucket membership is covered with the
bloom's in test_dedup.py.
"""

from __future__ import annotations

import numpy as np

from tegenaria_spark.operators.cuckoo import CuckooFilter


def _fps(n, seed):
    return np.random.RandomState(seed).randint(-(2**62), 2**62, size=n, dtype=np.int64)


def test_no_false_negatives_and_bounded_fpr():
    ins = _fps(8_000, 0)
    other = _fps(8_000, 1)
    f = CuckooFilter.for_capacity(len(ins))
    f.add_many(ins)
    assert f.contains_many(ins).all()  # every inserted fp is found
    fpr = f.contains_many(other).mean()
    assert fpr < 0.01  # b=4, 16-bit tags => expected ~0.0001


def test_test_or_add_semantics():
    fps = _fps(5_000, 2)
    f = CuckooFilter.for_capacity(len(fps))
    first = f.test_or_add_many(fps)
    assert not first.any()  # all new on first sight
    again = f.test_or_add_many(fps)
    assert again.all()  # all seen on second sight
    # in-batch duplicate reads seen (sequential TestOrAdd, like the
    # reference's dupefilters.go loop)
    g = CuckooFilter.for_capacity(10)
    seen = g.test_or_add_many(np.array([7, 7], dtype=np.int64))
    assert list(seen) == [False, True]


def test_delete_restores_unseen():
    fps = _fps(2_000, 3)
    f = CuckooFilter.for_capacity(len(fps))
    f.add_many(fps)
    victims = fps[:500]
    removed = f.delete_many(victims)
    assert removed.all()
    # deleted fps whose TAG+bucket is not shared by a survivor read
    # unseen again; survivors are never disturbed (no false negatives)
    assert f.contains_many(fps[500:]).all()
    assert f.contains_many(victims).mean() < 0.01  # residual = tag collisions


def test_high_load_eviction_chains_and_determinism():
    fps = _fps(3_000, 4)
    # cram into a filter sized for ~0.92 load: eviction chains must run
    nb = 1
    while nb * 4 < len(fps) / 0.92:
        nb <<= 1
    a = CuckooFilter(nb)
    a.add_many(fps)
    assert a.contains_many(fps).all()  # stash preserves no-false-negative
    b = CuckooFilter(nb)
    b.add_many(fps)
    assert a.to_bytes() == b.to_bytes()  # deterministic build
    # round-trip through bytes
    c = CuckooFilter.from_bytes(a.to_bytes())
    assert c.contains_many(fps).all()
