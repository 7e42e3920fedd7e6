"""Bloom filter over 64-bit URL keys — the approximate seen-set.

The reference keeps an exact per-task ``downloaded: HashSet[Int]`` of
32-bit url hashes (role/worker/Minion.scala:26-35). At the 10^10-URL
north-star scale an exact in-memory set is impossible and the 32-bit
key space itself saturates; the rebuild (north rule) uses:

  bloom pre-filter (this module)  →  exact anti-join (the authority)

A bloom hit only means "maybe seen" — those rows proceed to the exact
join against the ``seen`` table, which alone decides (and handles the
depth-qualified re-crawl rule). A bloom MISS is definitive ("never
inserted"), so definitely-new candidates skip the join entirely. False
positives therefore cost only wasted join work, never correctness —
the discipline SURVEY §2.4 J1 requires.

Everything is numpy-vectorized: k probe positions are derived from the
64-bit key by splitmix64 double hashing; membership tests run on whole
Arrow batches inside a pandas UDF. The engine never broadcasts one
whole filter: filters/sharded_bloom.py keeps one BloomFilter per
key-hash shard in a table and builds, OR-merges and probes the shards
on executors.
"""

from __future__ import annotations

import math

import numpy as np

_SPLITMIX_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_C2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = (x + _GOLDEN).astype(np.uint64)
        x ^= x >> np.uint64(30)
        x *= _SPLITMIX_C1
        x ^= x >> np.uint64(27)
        x *= _SPLITMIX_C2
        x ^= x >> np.uint64(31)
    return x


class BloomFilter:
    def __init__(self, n_expected: int, fpp: float = 1e-3):
        n_expected = max(n_expected, 16)
        self.m = int(-n_expected * math.log(fpp) / (math.log(2) ** 2))
        self.m = max(64, (self.m + 63) // 64 * 64)
        self.k = max(1, round(self.m / n_expected * math.log(2)))
        self.bits = np.zeros(self.m // 64, dtype=np.uint64)

    # -- vectorized probes --------------------------------------------
    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(len(keys), k) probe bit positions via double hashing."""
        x = keys.astype(np.int64).view(np.uint64)
        h1 = _splitmix64(x)
        h2 = _splitmix64(x ^ np.uint64(0xDEADBEEFCAFEBABE)) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        with np.errstate(over="ignore"):
            return (h1[:, None] + i * h2[:, None]) % np.uint64(self.m)

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(np.asarray(keys)).ravel()
        np.bitwise_or.at(
            self.bits, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership: bool array, True = maybe present."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(keys))
        word = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
        bit = (word >> (pos & np.uint64(63))) & np.uint64(1)
        return bit.all(axis=1)

    # -- (de)serialization for broadcast -------------------------------
    def to_bytes(self) -> bytes:
        head = np.array([self.m, self.k], dtype=np.int64).tobytes()
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        m, k = np.frombuffer(data[:16], dtype=np.int64)
        obj = cls.__new__(cls)
        obj.m, obj.k = int(m), int(k)
        obj.bits = np.frombuffer(data[16:], dtype=np.uint64).copy()
        return obj

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.m == other.m and self.k == other.k
        self.bits |= other.bits
        return self
