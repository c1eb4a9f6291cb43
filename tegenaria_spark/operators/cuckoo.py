"""Cuckoo-filter URL-seen membership (Fan et al. 2014, "Cuckoo
Filter: Practically Better than Bloom").

The north rule names "bloom/cuckoo URL-seen membership implemented as
vectorized pandas/Arrow UDFs"; this is the cuckoo half.  It plugs into
the same executor-side per-bucket state functions as the bloom
(operators/dedup.py ``filter_*``) and adds the one capability a bloom
cannot offer: **deletion** — evict a fingerprint so the URL becomes
fetchable again (re-crawl TTL expiry) without rebuilding the filter.

Reference counterpart: the bloom TestOrAdd seen-set of
/root/reference/dupefilters.go:131-141 — the reference offers no
deletion, which is why its seen-set can only ever grow; partial-key
cuckoo hashing stores a 16-bit tag whose alternate bucket is
recoverable from (index, tag) alone, so the filter supports delete
without the original keys.

Layout: ``nbuckets`` (power of two) buckets × 4 slots of uint16 tags,
tag 0 = empty.  tag(fp) is drawn from fp bits 48-63 (never 0);
``i1 = (fp >> 16) mod nbuckets``; ``i2 = i1 XOR h(tag)``.  Relocation
uses deterministic victim rotation — identical inputs build identical
tables, which the store-state design requires (commits must be
reproducible on replay).

Like the bloom, the cuckoo answers "maybe seen", never "seen": lookups
have false positives (~2b/2^16 ≈ 0.012 % at b=4), so exact dedup stays
with the url_seen anti-join (operators/dedup.py ``dedup_gate``), and
inserted fps are NEVER reported unseen.

Scale shape (10^10 fps): one filter per ``pmod(fp, B)`` bucket —
4 bytes/2 slots per fp ⇒ ~23 GB total at load 0.84, B = 2^10 gives
~23 MB per bucket row, built and probed entirely on executors by the
shared per-bucket functions; no driver-side table ever materializes.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Optional

import numpy as np

from tegenaria_spark.operators.dedup import bucket_capacity

MAX_KICKS = 500
SLOTS = 4
LOAD_FACTOR = 0.84


def _next_pow2(x: int) -> int:
    n = 1
    while n < x:
        n <<= 1
    return n


class CuckooFilter:
    """Numpy-vectorized cuckoo filter over signed-int64 fingerprints.

    Vectorized ``contains_many``/``test_or_add_many`` lookups; inserts
    walk the (rare) eviction chain per item in Python — per crawl
    round only the NEW fps insert, so the loop is over thousands, not
    the corpus.  A small stash absorbs insert failure near full load
    (checked by lookups), preserving the no-false-negative contract.
    """

    def __init__(self, nbuckets: int, tags: Optional[np.ndarray] = None):
        assert nbuckets & (nbuckets - 1) == 0, "nbuckets must be a power of two"
        self.nbuckets = int(nbuckets)
        self.mask = np.uint64(self.nbuckets - 1)
        self.tags = (
            tags if tags is not None else np.zeros((self.nbuckets, SLOTS), dtype=np.uint16)
        )
        self.stash: list[tuple[int, int]] = []  # (index, tag) overflow

    @classmethod
    def for_capacity(cls, n: int) -> "CuckooFilter":
        return cls(_next_pow2(max(1, int(np.ceil(n / (SLOTS * LOAD_FACTOR))))))

    # -- hashing ------------------------------------------------------
    def _tags_of(self, fps: np.ndarray) -> np.ndarray:
        u = np.asarray(fps, dtype=np.int64).view(np.uint64)
        t = ((u >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        return np.where(t == 0, np.uint16(1), t)

    def _i1_of(self, fps: np.ndarray) -> np.ndarray:
        u = np.asarray(fps, dtype=np.int64).view(np.uint64)
        return ((u >> np.uint64(16)) & self.mask).astype(np.int64)

    def _alt(self, idx: np.ndarray, tags: np.ndarray) -> np.ndarray:
        # partial-key relocation: alternate index from (index, tag) only
        h = (tags.astype(np.uint64) * np.uint64(0x5BD1E995)) & self.mask
        return (idx.astype(np.uint64) ^ h).astype(np.int64)

    # -- vectorized lookups -------------------------------------------
    def contains_many(self, fps: np.ndarray) -> np.ndarray:
        fps = np.asarray(fps)
        if len(fps) == 0:
            return np.zeros(0, dtype=bool)
        tags = self._tags_of(fps)
        i1 = self._i1_of(fps)
        i2 = self._alt(i1, tags)
        hit = (self.tags[i1] == tags[:, None]).any(axis=1) | (
            self.tags[i2] == tags[:, None]
        ).any(axis=1)
        if self.stash:
            st = set(self.stash)
            for j in range(len(fps)):
                key = (min(int(i1[j]), int(i2[j])), int(tags[j]))
                if not hit[j] and key in st:
                    hit[j] = True
        return hit

    # -- inserts (per-item chain; deterministic victim rotation) -------
    def _insert_tagged(self, idx: int, tag: int) -> None:
        kicks = 0
        while kicks <= MAX_KICKS:
            row = self.tags[idx]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = tag
                return
            alt = int(self._alt(np.array([idx]), np.array([tag], dtype=np.uint16))[0])
            row_a = self.tags[alt]
            free_a = np.nonzero(row_a == 0)[0]
            if len(free_a):
                row_a[free_a[0]] = tag
                return
            # deterministic eviction: rotate the victim slot with kicks
            slot = kicks % SLOTS
            victim = int(row[slot])
            row[slot] = tag
            idx, tag = int(self._alt(np.array([idx]), np.array([victim], dtype=np.uint16))[0]), victim
            kicks += 1
        # canonical stash key: the smaller of the two candidate indexes
        alt = int(self._alt(np.array([idx]), np.array([tag], dtype=np.uint16))[0])
        self.stash.append((min(idx, alt), tag))

    def add_many(self, fps: np.ndarray) -> None:
        fps = np.asarray(fps)
        if len(fps) == 0:
            return
        tags = self._tags_of(fps)
        i1 = self._i1_of(fps)
        for j in range(len(fps)):
            self._insert_tagged(int(i1[j]), int(tags[j]))

    def test_or_add_many(self, fps: np.ndarray) -> np.ndarray:
        """Reference TestOrAdd semantics (dupefilters.go:131-141):
        returns the seen mask; unseen fps are added.  Sequential within
        the batch, so an in-batch duplicate reads seen."""
        fps = np.asarray(fps)
        seen = np.zeros(len(fps), dtype=bool)
        if len(fps) == 0:
            return seen
        tags = self._tags_of(fps)
        i1 = self._i1_of(fps)
        for j in range(len(fps)):
            idx, tag = int(i1[j]), int(tags[j])
            alt = int(self._alt(np.array([idx]), np.array([tag], dtype=np.uint16))[0])
            if (
                (self.tags[idx] == tag).any()
                or (self.tags[alt] == tag).any()
                or (min(idx, alt), tag) in self.stash
            ):
                seen[j] = True
            else:
                self._insert_tagged(idx, tag)
        return seen

    def delete_many(self, fps: np.ndarray) -> np.ndarray:
        """Remove ONE stored copy per fp (valid only for previously
        inserted fps — the standard cuckoo deletion contract).  Returns
        the per-fp removal mask."""
        fps = np.asarray(fps)
        out = np.zeros(len(fps), dtype=bool)
        if len(fps) == 0:
            return out
        tags = self._tags_of(fps)
        i1 = self._i1_of(fps)
        for j in range(len(fps)):
            tag = int(tags[j])
            for idx in (int(i1[j]), int(self._alt(i1[j : j + 1], tags[j : j + 1])[0])):
                row = self.tags[idx]
                hits = np.nonzero(row == tag)[0]
                if len(hits):
                    row[hits[0]] = 0
                    out[j] = True
                    break
            else:
                key = (
                    min(int(i1[j]), int(self._alt(i1[j : j + 1], tags[j : j + 1])[0])),
                    tag,
                )
                if key in self.stash:
                    self.stash.remove(key)
                    out[j] = True
        return out

    # -- state (de)serialization ---------------------------------------
    def to_bytes(self) -> bytes:
        stash = np.array(self.stash or [], dtype=np.int64).reshape(-1, 2)
        head = np.array([self.nbuckets, len(stash)], dtype=np.int64)
        return head.tobytes() + self.tags.tobytes() + stash.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "CuckooFilter":
        head = np.frombuffer(raw[:16], dtype=np.int64)
        nb, ns = int(head[0]), int(head[1])
        body = np.frombuffer(raw[16 : 16 + nb * SLOTS * 2], dtype=np.uint16)
        f = cls(nb, body.reshape(nb, SLOTS).copy())
        if ns:
            st = np.frombuffer(raw[16 + nb * SLOTS * 2 :], dtype=np.int64).reshape(ns, 2)
            f.stash = [(int(a), int(b)) for a, b in st]
        return f


def cuckoo_bucket_filter(
    n: int, n_buckets: int
) -> tuple[Callable[[], CuckooFilter], Callable[[bytes], CuckooFilter]]:
    """(new, load) for the per-bucket ``filter_*`` functions of
    operators/dedup.py, sized for n/B fps per bucket."""
    per = bucket_capacity(n, n_buckets)
    return partial(CuckooFilter.for_capacity, per), CuckooFilter.from_bytes
