"""Dedup gate: the exact url_seen anti-join, plus the A5 bloom/cuckoo
membership operators.

Reference semantics (/root/reference/engine.go:346-377 writeCache +
dupefilters.go:131-141 DoDupeFilter):

- requests with ``do_not_filter`` bypass the gate entirely and are
  never registered in the seen-set (dupefilters.go:132-134);
- otherwise the fingerprint is tested-and-added against a bloom filter
  sized by the optimal m,k formulas (utils.go:78-87).

The north_rule demands the URL-seen set exactly, and a bloom or cuckoo
filter alone has false positives, so the gate (``dedup_gate``) is a
left-anti join against the ``url_seen`` table (hash-partitioned by fp)
and nothing else.  The per-bucket filter functions below (one filter
per ``pmod(fp, B)`` bucket, built on executors) are the A5 membership
operators that the contract queries build and probe; the engine does
not call them.  As a prefilter in front of the anti-join they could
only trim the join's candidate side, while url_seen is still scanned
and shuffled in full, so they never paid.

Within-batch duplicates (two outlinks to the same URL in one round) are
resolved keep-first-by-enqueue_seq, which is exactly what the
reference's sequential TestOrAdd does for free.
"""

from __future__ import annotations

import math
from functools import partial
from typing import Callable, Optional

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


# ---------------------------------------------------------------------------
# Bloom math — ported from /root/reference/utils.go:78-87
# ---------------------------------------------------------------------------


def optimal_num_of_bits(n: int, p: float) -> int:
    """m = -n·ln p / ln²2 (utils.go:85-87)."""
    return int(-float(n) * math.log(p) / (math.log(2) ** 2))


def optimal_num_of_hash_functions(n: int, m: int) -> int:
    """k = max(1, round(m/n · ln 2)) (utils.go:78-82)."""
    return int(max(1, round(float(m) / float(n) * math.log(2))))


class Bloom:
    """Bitset bloom over signed-int64 fingerprints, numpy-vectorized.

    Positions use double hashing h_i = h1 + i·h2 (the standard
    Kirsch-Mitzenmacher construction) over the 64-bit fp itself — the
    fp is already a high-quality hash, so no re-hashing is needed.
    """

    def __init__(self, m_bits: int, k: int, bits: Optional[np.ndarray] = None):
        self.m = int(m_bits)
        self.k = int(k)
        self.bits = bits if bits is not None else np.zeros((self.m + 7) // 8, dtype=np.uint8)

    @classmethod
    def for_capacity(cls, n: int, p: float) -> "Bloom":
        m = optimal_num_of_bits(n, p)
        return cls(m, optimal_num_of_hash_functions(n, m))

    @classmethod
    def from_bytes(cls, m_bits: int, k: int, raw: bytes) -> "Bloom":
        """The raw bitmap is the whole state (m and k come from config),
        so a filter state row's ``bits`` is a plain bitmap."""
        return cls(m_bits, k, np.frombuffer(raw, dtype=np.uint8))

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    def _positions(self, fps: np.ndarray) -> np.ndarray:
        u = fps.astype(np.int64).view(np.uint64)
        h1 = u
        h2 = ((u >> np.uint64(17)) | (u << np.uint64(47))) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m)).astype(np.int64)

    def add_many(self, fps: np.ndarray) -> None:
        if len(fps) == 0:
            return
        pos = self._positions(np.asarray(fps)).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains_many(self, fps: np.ndarray) -> np.ndarray:
        if len(fps) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(fps))
        got = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return got.all(axis=0)


# ---------------------------------------------------------------------------
# Per-bucket filter state (the 10^10 design), shared by Bloom and
# CuckooFilter (operators/cuckoo.py): one filter per pmod(fp, B) bucket,
# built and probed entirely on executors.  No driver-side filter ever
# materializes.
#
# A filter type provides add_many / contains_many / to_bytes; callers
# pass a constructor of an empty, bucket-sized filter and a loader from
# its bytes (bloom_bucket_filter / cuckoo_bucket_filter).
#
# Sizing at the design point: n=10^10, p=0.001 ⇒ m ≈ 17 GB total; with
# B = 2^10 buckets each bitmap is ~17 MB — an executor-comfortable
# cogroup row, vs a driver-OOM broadcast.
# ---------------------------------------------------------------------------

FILTER_STATE_SCHEMA = "bucket int, bits binary"


def bucket_capacity(n: int, n_buckets: int) -> int:
    """Expected fps per bucket when n spread over n_buckets."""
    return max(1, n // max(1, n_buckets))


def bloom_bucket_filter(
    n: int, p: float, n_buckets: int
) -> tuple[Callable[[], Bloom], Callable[[bytes], Bloom]]:
    """(new, load) for bloom state sized for n/B fps per bucket at rate p."""
    per = bucket_capacity(n, n_buckets)
    m = optimal_num_of_bits(per, p)
    k = optimal_num_of_hash_functions(per, m)
    return partial(Bloom, m, k), partial(Bloom.from_bytes, m, k)


def _bucket_of(n_buckets: int):
    return F.pmod(F.col("fp"), F.lit(n_buckets)).cast("int")


def filter_delta_state(fps: DataFrame, n_buckets: int, new: Callable) -> DataFrame:
    """Per-bucket filters for a batch of fps — grouped-map build, one
    shuffle on the bucket key, filters never leave the executors.  fps
    are deduplicated first: a cuckoo stores a repeated insert twice."""

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        f = new()
        f.add_many(np.unique(pdf["fp"].to_numpy()))
        return pd.DataFrame({"bucket": [int(key[0])], "bits": [f.to_bytes()]})

    return (
        fps.select(_bucket_of(n_buckets).alias("bucket"), "fp")
        .groupBy("bucket")
        .applyInPandas(build, FILTER_STATE_SCHEMA)
    )


def filter_fp_verdicts(
    candidates: DataFrame, state: DataFrame, n_buckets: int, load: Callable
) -> DataFrame:
    """(fp, _maybe) per distinct candidate fp — cogroup on the bucket
    key so each filter meets exactly its candidate slice; the filter is
    deserialized once per (bucket, task), never per row, and never
    broadcast through the driver."""
    cand_fps = candidates.select("fp").distinct().withColumn("_bb", _bucket_of(n_buckets))

    def mark(key, cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        if cpdf.empty:
            return pd.DataFrame({"fp": pd.Series([], dtype="int64"), "_maybe": pd.Series([], dtype=bool)})
        if spdf.empty:
            return pd.DataFrame({"fp": cpdf["fp"], "_maybe": False})
        f = load(spdf["bits"].iloc[0])
        return pd.DataFrame({"fp": cpdf["fp"], "_maybe": f.contains_many(cpdf["fp"].to_numpy())})

    return (
        cand_fps.groupBy("_bb")
        .cogroup(state.groupBy("bucket"))
        .applyInPandas(mark, "fp long, _maybe boolean")
    )


# ---------------------------------------------------------------------------
# The dedup gate (F1 + A6)
# ---------------------------------------------------------------------------


def dedup_within_batch(candidates: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Keep-first-by-enqueue_seq per fp among filterable rows; every
    do_not_filter row passes (they never register, so they can't shadow
    each other).  Returns (kept, dropped)."""
    filt = candidates.filter(~F.col("do_not_filter"))
    bypass = candidates.filter(F.col("do_not_filter"))
    w = Window.partitionBy("fp").orderBy("enqueue_seq")
    ranked = filt.withColumn("_rn", F.row_number().over(w))
    kept = ranked.filter(F.col("_rn") == 1).drop("_rn").unionByName(bypass)
    dropped = ranked.filter(F.col("_rn") > 1).drop("_rn")
    return kept, dropped


def dedup_gate(candidates: DataFrame, url_seen: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F1: drop candidates whose fp is already in url_seen (unless
    do_not_filter).  Returns (fresh, dup_dropped).

    Every split is a left_semi/left_anti join: Catalyst sizes those by
    their left side alone, where inner/outer joins and cogroups multiply
    their inputs' estimates.  Pinned outputs carry their estimate into
    the next round, so a multiplying gate would square it every round
    until planning alone stalls the crawl.
    """
    kept, batch_dups = dedup_within_batch(candidates)
    filt = kept.filter(~F.col("do_not_filter"))
    bypass = kept.filter(F.col("do_not_filter"))
    seen = url_seen.select("fp")
    fresh = filt.join(seen, "fp", "left_anti")
    dup = filt.join(seen, "fp", "left_semi")
    return fresh.unionByName(bypass), batch_dups.unionByName(dup)


def url_seen_delta(fresh: DataFrame, round_no: int) -> DataFrame:
    """New seen-set rows: fps of freshly enqueued filterable requests
    (do_not_filter rows never register — dupefilters.go:132-134)."""
    return (
        fresh.filter(~F.col("do_not_filter"))
        .select("fp")
        .distinct()
        .withColumn("first_round", F.lit(round_no).cast("int"))
    )
