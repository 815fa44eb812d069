"""Partitioned Bloom filter for the URL-seen set (SURVEY.md §2.3 J1).

Replaces the reference's request-fingerprint dupefilter
(settings.py:92,107) with an explicit, persistable structure:

  * keys are canonical URLs; each key owns two independent 64-bit values
    derived from its md5 (double hashing: pos_i = (h1 + i*h2) mod m);
  * the bit space is split into ``n_buckets`` independent filters keyed by
    ``bucket = h1 mod n_buckets``, so (a) each bucket's blob stays small
    enough for one executor even at 10^10 keys (~1.2 GB per 10^9 keys at
    1% FPR, split across buckets), and (b) probe/update parallelize per
    bucket with zero cross-bucket coordination;
  * probes are vectorized numpy over Arrow batches (mapInPandas with the
    blobs broadcast — zero shuffle — for state that fits in memory;
    groupBy(bucket).applyInPandas co-partitioned probing is the >memory
    path at full scale);
  * Bloom positives are verified with an exact LEFT ANTI join against the
    frontier (the seen set's exact form), so false positives never drop a
    URL — false-negative-free by construction, and the exact join input
    is only the tiny positive subset.
"""

from __future__ import annotations

import hashlib

import numpy as np


def key_hashes(urls: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Two independent uint64 per key from md5 (stable across engines)."""
    h1 = np.empty(len(urls), dtype=np.uint64)
    h2 = np.empty(len(urls), dtype=np.uint64)
    for i, u in enumerate(urls):
        d = hashlib.md5(u.encode("utf-8", "surrogatepass")).digest()
        h1[i] = int.from_bytes(d[:8], "big")
        h2[i] = int.from_bytes(d[8:16], "big") | 1  # odd → full cycle
    return h1, h2


class BloomState:
    """n_buckets independent bit arrays + per-bucket key counts."""

    def __init__(self, n_buckets: int = 32, bits_per_bucket: int = 1 << 20, k: int = 7):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        self.n_buckets = n_buckets
        self.m = bits_per_bucket
        self.k = k
        self.blobs = np.zeros((n_buckets, bits_per_bucket // 8), dtype=np.uint8)
        self.n_items = np.zeros(n_buckets, dtype=np.int64)
        self._bcast = None  # cached Spark broadcast of the blobs
        self._bcast_dirty = True

    @property
    def state_bytes(self) -> int:
        return int(self.blobs.nbytes)

    def bloom_keys(self) -> int:
        return int(self.n_items.sum())

    # ---- broadcast lifecycle: ONE broadcast per state version, not one
    # per probe call — unbounded broadcast accumulation at multi-GB blob
    # sizes was a driver/executor memory leak otherwise.
    def broadcast(self, spark):
        if self._bcast is not None and not self._bcast_dirty:
            return self._bcast
        self.release()
        self._bcast = spark.sparkContext.broadcast(
            (self.n_buckets, self.m, self.k, self.blobs)
        )
        self._bcast_dirty = False
        return self._bcast

    def release(self) -> None:
        """Unpersist the cached broadcast (frees executor copies; Spark
        re-ships on demand if a straggler job still references it).  The
        crawl loop calls this after each batch's commit."""
        if self._bcast is not None:
            self._bcast.unpersist(blocking=False)
            self._bcast = None
        self._bcast_dirty = True

    # -- serialization (persisted per snapshot; see tables.SnapshotCatalog)
    def to_npz(self, path: str) -> None:
        np.savez_compressed(
            path, blobs=self.blobs, n_items=self.n_items,
            meta=np.array([self.n_buckets, self.m, self.k], dtype=np.int64),
        )

    @classmethod
    def from_npz(cls, path: str) -> "BloomState":
        z = np.load(path)
        nb, m, k = (int(x) for x in z["meta"])
        st = cls(nb, m, k)
        st.blobs = z["blobs"]
        st.n_items = z["n_items"]
        return st

    # ---- hash-column API: keys pre-hashed JVM-side with F.xxhash64 ----
    # (h1 = xxhash64(url), h2 = xxhash64('salt', url) | 1, both viewed as
    # uint64).  Bucket = h1 % n_buckets matches Spark's pmod(h1, n) because
    # n_buckets is a power of two (2^64 ≡ 0 mod 2^k).  This keeps ALL
    # per-key hashing in the JVM; the Python side is pure numpy bit math.

    def probe_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        buckets, pos = self._positions(h1, h2 | np.uint64(1))
        byte_idx, bit = pos >> 3, (pos & 7).astype(np.uint8)
        bits = (self.blobs[buckets[:, None], byte_idx] >> bit) & 1
        return bits.all(axis=1)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        if len(h1) == 0:
            return
        buckets, pos = self._positions(h1, h2 | np.uint64(1))
        byte_idx, bit = pos >> 3, (pos & 7).astype(np.uint8)
        np.bitwise_or.at(
            self.blobs, (buckets[:, None].repeat(self.k, 1), byte_idx), np.uint8(1) << bit
        )
        np.add.at(self.n_items, buckets, 1)
        self._bcast_dirty = True

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        buckets = (h1 % np.uint64(self.n_buckets)).astype(np.int64)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        pos = (h1[:, None] + i * h2[:, None]) % np.uint64(self.m)
        return buckets, pos.astype(np.int64)

    def probe(self, urls: list[str]) -> np.ndarray:
        """Vectorized membership test → bool array (True = maybe seen)."""
        if not urls:
            return np.zeros(0, dtype=bool)
        h1, h2 = key_hashes(urls)
        buckets, pos = self._positions(h1, h2)
        byte_idx, bit = pos >> 3, (pos & 7).astype(np.uint8)
        bits = (self.blobs[buckets[:, None], byte_idx] >> bit) & 1
        return bits.all(axis=1)

    def add(self, urls: list[str]) -> None:
        if not urls:
            return
        h1, h2 = key_hashes(urls)
        buckets, pos = self._positions(h1, h2)
        byte_idx, bit = pos >> 3, (pos & 7).astype(np.uint8)
        np.bitwise_or.at(
            self.blobs, (buckets[:, None].repeat(self.k, 1), byte_idx), np.uint8(1) << bit
        )
        np.add.at(self.n_items, buckets, 1)
        self._bcast_dirty = True

    def delta_bits(self, urls: list[str]) -> "BloomState":
        """Bits for new keys only, as a fresh state (OR-mergeable)."""
        d = BloomState(self.n_buckets, self.m, self.k)
        d.add(urls)
        return d

    def merge(self, other: "BloomState") -> None:
        assert (self.n_buckets, self.m, self.k) == (other.n_buckets, other.m, other.k)
        np.bitwise_or(self.blobs, other.blobs, out=self.blobs)
        self.n_items += other.n_items
        self._bcast_dirty = True

    def fpr_estimate(self) -> float:
        """Worst-bucket theoretical FPR (1-e^{-kn/m})^k."""
        n = int(self.n_items.max()) if self.n_items.size else 0
        return float((1.0 - np.exp(-self.k * n / self.m)) ** self.k)

    # ---- per-bucket file store (the >broadcast-scale probe path) ----
    def to_bucket_store(self, dir_path: str) -> "BloomBucketStore":
        """Materialize this in-memory state as a BloomBucketStore (one blob
        file per bucket) — used to seed the partitioned path from a small
        initial state; steady-state updates go through
        urlseen.update_buckets_partitioned and never rebuild full state."""
        import os

        os.makedirs(dir_path, exist_ok=True)
        paths: dict[int, str] = {}
        for b in range(self.n_buckets):
            p = os.path.join(dir_path, f"bucket-{b:05d}.npy")
            np.save(p, self.blobs[b])
            paths[b] = p
        n_items = {b: int(self.n_items[b]) for b in range(self.n_buckets)}
        return BloomBucketStore(self.n_buckets, self.m, self.k, paths, n_items)


class BloomBucketStore:
    """Manifest-addressed per-bucket Bloom blobs: the state layout for
    filters too large to broadcast (the 10^10-key regime, ~12 GB total).

    * ``paths[bucket]`` → an immutable blob file (local FS here; each path
      would be an object-store key on a real cluster);
    * a micro-batch's update writes NEW files for only the buckets it
      touched and re-references the rest, so commit cost scales with the
      batch — full state never materializes in one place (not on the
      driver, not in any single task);
    * older snapshots keep pointing at their own files (snapshot isolation
      for the Bloom state, same as the parquet tables);
    * a missing bucket entry ≡ an all-zeros blob (probe: unseen).
    """

    def __init__(self, n_buckets: int, m: int, k: int,
                 paths: dict[int, str] | None = None,
                 n_items: dict[int, int] | None = None):
        assert n_buckets & (n_buckets - 1) == 0
        self.n_buckets = n_buckets
        self.m = m
        self.k = k
        self.paths = dict(paths or {})
        self.n_items = {int(b): int(n) for b, n in (n_items or {}).items()}
        self._bcast = None  # cached broadcast of the bucket→path manifest

    # ---- manifest broadcast lifecycle: ONE broadcast per store version
    # (paths are immutable per instance — updates build a NEW store), not
    # one per probe/update call: a fresh broadcast every micro-batch
    # accumulated driver/executor bookkeeping unboundedly over long crawls.
    def broadcast(self, spark):
        if self._bcast is None:
            self._bcast = spark.sparkContext.broadcast(dict(self.paths))
        return self._bcast

    def release(self) -> None:
        """Unpersist the cached manifest broadcast (driver re-ships on
        demand if a straggler still references it); the crawl loop calls
        this once the batch's commit has landed."""
        if self._bcast is not None:
            self._bcast.unpersist(blocking=False)
            self._bcast = None

    @property
    def state_bytes(self) -> int:
        return self.n_buckets * (self.m // 8)

    def bloom_keys(self) -> int:
        return sum(self.n_items.values())

    def fpr_estimate(self) -> float:
        n = max(self.n_items.values(), default=0)
        return float((1.0 - np.exp(-self.k * n / self.m)) ** self.k)

    def save(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                {"n_buckets": self.n_buckets, "m": self.m, "k": self.k,
                 "paths": {str(b): p for b, p in self.paths.items()},
                 "n_items": {str(b): n for b, n in self.n_items.items()}},
                f,
            )

    @classmethod
    def load(cls, path: str) -> "BloomBucketStore":
        import json

        with open(path) as f:
            d = json.load(f)
        return cls(
            d["n_buckets"], d["m"], d["k"],
            {int(b): p for b, p in d["paths"].items()},
            {int(b): n for b, n in d["n_items"].items()},
        )

    def referenced_files(self) -> set[str]:
        return set(self.paths.values())
