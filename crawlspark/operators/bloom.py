"""Partitioned Bloom filter for the URL-seen set (SURVEY.md §2.3 J1).

Replaces the reference's request-fingerprint dupefilter
(settings.py:92,107) with an explicit, persistable structure:

  * keys are canonical URLs, hashed JVM-side into two 64-bit values
    (h1 = xxhash64(url), h2 = xxhash64(salt, url) | 1; urlseen.HASH_SQL)
    and probed by double hashing: pos_i = (h1 + i*h2) mod m, computed in
    one place, ``BloomState._positions``;
  * the bit space is split into ``n_buckets`` independent filters keyed by
    ``bucket = h1 mod n_buckets``, so (a) each bucket's blob stays small
    enough for one executor even at 10^10 keys (~1.2 GB per 10^9 keys at
    1% FPR, split across buckets), and (b) probe/update parallelize per
    bucket with zero cross-bucket coordination;
  * two layouts of the same bits: ``BloomState`` holds every blob and is
    broadcast to a vectorized pandas-UDF probe (zero shuffle);
    ``BloomBucketStore`` keeps one file per bucket and is probed
    co-partitioned (one bucket shuffle, one blob per task) — the state
    past ``BROADCAST_CAP_BYTES``.  Per-bucket tasks of either layout run
    the same kernel on a one-bucket ``BloomState``;
  * Bloom positives are verified with an exact join against the urlseen
    table (the seen set's exact form; urlseen._split_and_verify), so
    false positives never drop a URL — false-negative-free by
    construction, and the exact join input is only the tiny positive
    subset.

A snapshot manifest names its layout by the state key it records
(``MANIFEST_KEY``); ``load_seen_state``/``seen_state_files`` read it back.
"""

from __future__ import annotations

import json
import os

import numpy as np

# state past this many bytes of bits is not broadcast: new_seen_state
# picks the per-bucket-file layout instead
BROADCAST_CAP_BYTES = 256 << 20
# BloomBucketStore blob files live in this directory beside its manifests
BLOB_DIR = "bloom-buckets"


def _npz(path: str) -> str:
    # np.savez_compressed appends .npz to a path without it, so accept a
    # recorded path either way
    return path if path.endswith(".npz") else path + ".npz"


class BroadcastCache:
    """ONE cached Spark broadcast per state version, not one per probe
    call — unbounded broadcast accumulation at multi-GB blob sizes was a
    driver/executor memory leak otherwise.  Mutators set ``_bcast_dirty``;
    the crawl loop calls ``release()`` after each batch's commit."""

    _bcast = None
    _bcast_dirty = True

    def broadcast(self, spark):
        if self._bcast is None or self._bcast_dirty:
            self.release()
            self._bcast = spark.sparkContext.broadcast(self)
            self._bcast_dirty = False
        return self._bcast

    def release(self) -> None:
        """Unpersist the cached broadcast (frees executor copies; Spark
        re-ships on demand if a straggler job still references it)."""
        if self._bcast is not None:
            self._bcast.unpersist(blocking=False)
            self._bcast = None
        self._bcast_dirty = True

    def __getstate__(self):  # executors get the state, not the handle
        return {**self.__dict__, "_bcast": None}


class BloomState(BroadcastCache):
    """n_buckets independent bit arrays + per-bucket key counts."""

    MANIFEST_KEY = "bloom_path"

    def __init__(self, n_buckets: int = 32, bits_per_bucket: int = 1 << 20, k: int = 7):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        self.n_buckets = n_buckets
        self.m = bits_per_bucket
        self.k = k
        self.blobs = np.zeros((n_buckets, bits_per_bucket // 8), dtype=np.uint8)
        self.n_items = np.zeros(n_buckets, dtype=np.int64)

    @classmethod
    def single(cls, m: int, k: int, blob: np.ndarray | None = None) -> "BloomState":
        """One bucket's filter over ``blob`` (all zeros when None): the view
        a per-bucket task runs the kernel on.  Positions depend on h1/h2
        only, so its bits equal that bucket's bits in the full state."""
        st = cls(1, m, k)
        if blob is not None:
            st.blobs = blob.reshape(1, -1)
        return st

    def empty_like(self, n_buckets: int | None = None) -> "BloomState":
        return BloomState(n_buckets or self.n_buckets, self.m, self.k)

    @property
    def state_bytes(self) -> int:
        return int(self.blobs.nbytes)

    def bloom_keys(self) -> int:
        return int(self.n_items.sum())

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

    def save_snapshot(self, state_dir: str, snap_id: int) -> str:
        path = os.path.join(state_dir, f"bloom-{snap_id:06d}.npz")
        self.to_npz(path)
        return path

    @staticmethod
    def files(path: str) -> set[str]:
        return {_npz(path)}

    @classmethod
    def load(cls, path: str) -> "BloomState":
        return cls.from_npz(_npz(path))

    # ---- the bit kernel, over keys pre-hashed JVM-side with F.xxhash64 ----
    # (h1, h2 viewed as uint64).  Bucket = h1 % n_buckets matches Spark's
    # pmod(h1, n) because n_buckets is a power of two (2^64 ≡ 0 mod 2^k).
    # This keeps ALL per-key hashing in the JVM; the Python side is pure
    # numpy bit math.

    def probe_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        buckets, byte_idx, bit = self._positions(h1, h2)
        bits = (self.blobs[buckets[:, None], byte_idx] >> bit) & 1
        return bits.all(axis=1)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        if len(h1) == 0:
            return
        buckets, byte_idx, bit = self._positions(h1, h2)
        np.bitwise_or.at(
            self.blobs, (buckets[:, None].repeat(self.k, 1), byte_idx), np.uint8(1) << bit
        )
        np.add.at(self.n_items, buckets, 1)
        self._bcast_dirty = True

    def _positions(self, h1: np.ndarray, h2: np.ndarray):
        """→ (bucket, byte index, bit in byte) of each key's k bits."""
        h2 = h2 | np.uint64(1)  # odd step: the k positions are distinct
        buckets = (h1 % np.uint64(self.n_buckets)).astype(np.int64)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        pos = ((h1[:, None] + i * h2[:, None]) % np.uint64(self.m)).astype(np.int64)
        return buckets, pos >> 3, (pos & 7).astype(np.uint8)

    def merge(self, other: "BloomState") -> None:
        assert (self.n_buckets, self.m, self.k) == (other.n_buckets, other.m, other.k)
        np.bitwise_or(self.blobs, other.blobs, out=self.blobs)
        self.n_items += other.n_items
        self._bcast_dirty = True

    def fpr_estimate(self) -> float:
        """Worst-bucket theoretical FPR (1-e^{-kn/m})^k."""
        n = int(self.n_items.max()) if self.n_items.size else 0
        return float((1.0 - np.exp(-self.k * n / self.m)) ** self.k)


class BloomBucketStore(BroadcastCache):
    """Manifest-addressed per-bucket Bloom blobs: the state layout for
    filters too large to broadcast (the 10^10-key regime, ~12 GB total).

    * ``paths[bucket]`` → an immutable blob file (local FS here; each path
      would be an object-store key on a real cluster);
    * a micro-batch's update writes NEW files under ``root`` for only the
      buckets it touched (urlseen.bloom_delta) and ``merge`` re-points
      those buckets, so commit cost scales with the batch — full state
      never materializes in one place (not on the driver, not in any
      single task);
    * older snapshots keep pointing at their own files (snapshot isolation
      for the Bloom state, same as the parquet tables);
    * a missing bucket entry ≡ an all-zeros blob (probe: unseen).
    """

    MANIFEST_KEY = "bloom_store_path"

    def __init__(self, n_buckets: int, m: int, k: int,
                 paths: dict[int, str] | None = None,
                 n_items: dict[int, int] | None = None,
                 root: str | None = None):
        assert n_buckets & (n_buckets - 1) == 0
        self.n_buckets = n_buckets
        self.m = m
        self.k = k
        self.paths = dict(paths or {})
        self.n_items = {int(b): int(n) for b, n in (n_items or {}).items()}
        self.root = root  # where updates write new blob files

    def empty_like(self, n_buckets: int | None = None) -> "BloomBucketStore":
        return BloomBucketStore(n_buckets or self.n_buckets, self.m, self.k, root=self.root)

    @property
    def state_bytes(self) -> int:
        return self.n_buckets * (self.m // 8)

    def bloom_keys(self) -> int:
        return sum(self.n_items.values())

    def fpr_estimate(self) -> float:
        n = max(self.n_items.values(), default=0)
        return float((1.0 - np.exp(-self.k * n / self.m)) ** self.k)

    def merge(self, other: "BloomBucketStore") -> None:
        """Fold in an update: its buckets' rewritten files replace ours."""
        assert (self.n_buckets, self.m, self.k) == (other.n_buckets, other.m, other.k)
        self.paths.update(other.paths)
        for b, n in other.n_items.items():
            self.n_items[b] = self.n_items.get(b, 0) + n
        self._bcast_dirty = True

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"n_buckets": self.n_buckets, "m": self.m, "k": self.k,
                 "paths": {str(b): p for b, p in self.paths.items()},
                 "n_items": {str(b): n for b, n in self.n_items.items()}},
                f,
            )

    @classmethod
    def load(cls, path: str) -> "BloomBucketStore":
        with open(path) as f:
            d = json.load(f)
        return cls(
            d["n_buckets"], d["m"], d["k"],
            {int(b): p for b, p in d["paths"].items()},
            {int(b): n for b, n in d["n_items"].items()},
            root=os.path.join(os.path.dirname(path), BLOB_DIR),
        )

    def save_snapshot(self, state_dir: str, snap_id: int) -> str:
        # the snapshot records only the tiny bucket→file manifest; blob
        # files are written by the batch's grouped-map update and shared
        # by reference across snapshots
        path = os.path.join(state_dir, f"bloom-buckets-{snap_id:06d}.json")
        self.save(path)
        return path

    @classmethod
    def files(cls, path: str) -> set[str]:
        if not os.path.exists(path):
            return set()
        return {path} | cls.load(path).referenced_files()

    def referenced_files(self) -> set[str]:
        return set(self.paths.values())


# load order: a manifest naming both (possible only before commit cleared
# the other layout's key) was crawled partitioned
_LAYOUTS = (BloomBucketStore, BloomState)
SEEN_STATE_KEYS = tuple(cls.MANIFEST_KEY for cls in _LAYOUTS)


def new_seen_state(n_buckets: int, bits: int, state_dir: str,
                   partitioned: bool = False):
    """An empty URL-seen filter.  The layout goes by size: the broadcast
    ``BloomState`` up to BROADCAST_CAP_BYTES of bits, else the
    ``BloomBucketStore`` with its blobs under ``state_dir``;
    ``partitioned=True`` forces the latter."""
    if partitioned or n_buckets * (bits // 8) > BROADCAST_CAP_BYTES:
        return BloomBucketStore(n_buckets, bits, k=7, root=os.path.join(state_dir, BLOB_DIR))
    return BloomState(n_buckets, bits)


def load_seen_state(state: dict):
    """The URL-seen filter a manifest's state names, or None."""
    for cls in _LAYOUTS:
        if state.get(cls.MANIFEST_KEY):
            return cls.load(state[cls.MANIFEST_KEY])
    return None


def seen_state_files(state: dict) -> set[str]:
    """Every file the URL-seen filter named by a manifest's state uses."""
    return {f for cls in _LAYOUTS if state.get(cls.MANIFEST_KEY)
            for f in cls.files(state[cls.MANIFEST_KEY])}
