"""Partitioned cuckoo filter: the DELETABLE URL-seen layout (SURVEY §2.3 J1).

The north-star names "bloom/cuckoo" for the 10^10-key seen set; bloom.py is
the default layout.  This is the cuckoo sibling for workloads that need
**deletion** — cache expiry that *re-admits* URLs into the frontier (the
reference's fetched-pages expiry, covid_news_spider.py:377-406, re-fetches
stale pages; with a deletable seen set the standard unseen-probe path serves
that re-admission instead of a separate staleness join).

Layout mirrors BloomState so the probe plumbing is shared:

  * keys are pre-hashed JVM-side (xxhash64 pair, urlseen.HASH_SQL);
    partition ``bucket = h1 % n_buckets`` (power of two — matches pmod);
  * within a partition: ``n_slots`` buckets x 4 slots of uint16
    fingerprints (0 = empty).  ``i1`` comes from the high bits of h1, the
    fingerprint from h2, and the alternate index is partial-key cuckoo:
    ``i2 = i1 XOR mix(fp)`` with ``mix`` odd-forced so i2 != i1 — the
    alternate index is recomputable from (index, fp) alone, which is what
    makes eviction (and therefore ~95% load factors) work;
  * probe/delete are vectorized numpy over the whole batch; insert is a
    per-key kick loop (politeness batches are bounded, and the
    partitioned path runs one loop per bucket in parallel executors);
  * the state is broadcast whole and probed by urlseen.probe_unseen's
    pandas UDF, the same one the broadcast BloomState uses;
  * false negatives: none for live keys.  Deletion carries the standard
    cuckoo-filter caveat — deleting key A removes one copy of A's
    (index, fp) pair, so if a *different* live key B collides on the full
    triple (~1/(n_slots*65535) per pair) B can turn falsely negative.
    In the crawl loop a false negative only means one redundant re-fetch
    (the doc sink dedups by doc_id), never data loss; positives are still
    exactly verified against the urlseen table (urlseen._split_and_verify).

Capacity: 4-way buckets + 500 kicks sustain ~95% load; size with headroom
(``for_keys``), and add each key ONCE (the unseen-probe gate guarantees
that in the loop) — duplicate adds consume slots like a counting filter,
and delete removes one copy.
"""

from __future__ import annotations

import numpy as np

from crawlspark.operators.bloom import BroadcastCache

_FP_MIX = np.uint64(2654435761)  # Knuth multiplicative mix for i2 offset


class CuckooFull(RuntimeError):
    """Insert exceeded max_kicks — the partition is over capacity."""


class CuckooState(BroadcastCache):
    """n_buckets independent cuckoo sub-filters + per-bucket key counts."""

    def __init__(self, n_buckets: int = 32, n_slots: int = 1 << 16,
                 max_kicks: int = 500):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        assert n_slots & (n_slots - 1) == 0, "n_slots must be a power of two"
        self.n_buckets = n_buckets
        self.n_slots = n_slots
        self.max_kicks = max_kicks
        self.table = np.zeros((n_buckets, n_slots, 4), dtype=np.uint16)
        self.n_items = np.zeros(n_buckets, dtype=np.int64)

    @classmethod
    def for_keys(cls, n_keys: int, n_buckets: int = 32,
                 load_factor: float = 0.84) -> "CuckooState":
        """Size n_slots so the expected load stays under ``load_factor``."""
        per_bucket = max(1, int(n_keys / n_buckets / (4 * load_factor)))
        n_slots = 1 << max(3, (per_bucket - 1).bit_length())
        return cls(n_buckets=n_buckets, n_slots=n_slots)

    @property
    def state_bytes(self) -> int:
        return int(self.table.nbytes)

    def fpr_estimate(self) -> float:
        """Upper-bound FPR: 2 buckets x 4 slots x P(fp match) at current load."""
        load = float(self.n_items.sum()) / (self.n_buckets * self.n_slots * 4)
        return 8.0 * load / 65535.0

    # ---- serialization ----
    def to_npz(self, path: str) -> None:
        np.savez_compressed(
            path, table=self.table, n_items=self.n_items,
            meta=np.array([self.n_buckets, self.n_slots, self.max_kicks],
                          dtype=np.int64),
        )

    @classmethod
    def from_npz(cls, path: str) -> "CuckooState":
        z = np.load(path)
        nb, ns, mk = (int(x) for x in z["meta"])
        st = cls(nb, ns, mk)
        st.table = z["table"]
        st.n_items = z["n_items"]
        return st

    # ---- key derivation (JVM xxhash64 pair -> partition/index/fp) ----
    def _derive(self, h1: np.ndarray, h2: np.ndarray):
        b = (h1 % np.uint64(self.n_buckets)).astype(np.int64)
        i1 = ((h1 >> np.uint64(32)) & np.uint64(self.n_slots - 1)).astype(np.int64)
        fp = (h2 % np.uint64(0xFFFF)).astype(np.uint16) + np.uint16(1)
        i2 = i1 ^ self._alt_off(fp)
        return b, i1, fp, i2

    def _alt_off(self, fp) -> np.ndarray:
        """Odd-forced offset so i XOR off != i; recomputable from fp alone."""
        off = (fp.astype(np.uint64) * _FP_MIX) & np.uint64(self.n_slots - 1)
        return (off | np.uint64(1)).astype(np.int64)

    # ---- vectorized probe ----
    def probe_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        b, i1, fp, i2 = self._derive(h1, h2)
        t = self.table
        hit1 = (t[b, i1] == fp[:, None]).any(axis=1)
        hit2 = (t[b, i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    # ---- insert (per-key kick loop; sort for layout determinism) ----
    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        if len(h1) == 0:
            return
        order = np.lexsort((h2, h1))  # deterministic layout for any input order
        b, i1, fp, i2 = self._derive(h1[order], h2[order])
        for j in range(len(b)):
            self._insert_one(int(b[j]), int(i1[j]), int(fp[j]), int(i2[j]))
            self.n_items[b[j]] += 1
        self._bcast_dirty = True

    def _insert_one(self, b: int, i1: int, fp: int, i2: int) -> None:
        row = self.table[b]
        for i in (i1, i2):
            free = np.nonzero(row[i] == 0)[0]
            if len(free):
                row[i, free[0]] = fp
                return
        # both full: evict, alternating deterministically over slots
        i, cur = i1, fp
        for kick in range(self.max_kicks):
            slot = kick & 3
            victim = int(row[i, slot])
            row[i, slot] = cur
            cur = victim
            i = i ^ int(self._alt_off(np.uint16([cur]))[0])
            free = np.nonzero(row[i] == 0)[0]
            if len(free):
                row[i, free[0]] = cur
                return
        raise CuckooFull(
            f"bucket {b} over capacity ({self.n_items[b]} keys, "
            f"{self.n_slots * 4} slots) after {self.max_kicks} kicks"
        )

    # ---- delete (per-key; the expired slice is small by construction) ----
    def delete_hashes(self, h1: np.ndarray, h2: np.ndarray) -> int:
        """Remove one copy per key; returns how many were found+removed."""
        if len(h1) == 0:
            return 0
        order = np.lexsort((h2, h1))
        b, i1, fp, i2 = self._derive(h1[order], h2[order])
        removed = 0
        for j in range(len(b)):
            row = self.table[b[j]]
            done = False
            for i in (int(i1[j]), int(i2[j])):
                hit = np.nonzero(row[i] == fp[j])[0]
                if len(hit):
                    row[i, hit[0]] = 0
                    self.n_items[b[j]] -= 1
                    removed += 1
                    done = True
                    break
            if not done:
                pass  # never-inserted (or already-deleted) key: no-op
        self._bcast_dirty = True
        return removed


def apply_partitioned(spark, keys_df, state: CuckooState, op: str = "add"
                      ) -> CuckooState:
    """Distributed add/delete: one task per partition bucket mutates that
    bucket's sub-table and ships back ONE (bucket, table) row — the driver
    stitches.  Each bucket is touched by exactly one task (groupBy bucket),
    so there is no merge ambiguity; per-bucket state stays executor-sized
    at any scale.  keys_df must carry _h1/_h2/bucket (urlseen.HASH_SQL, urlseen.bucket_sql).
    Layout (not just membership) matches the driver-side kernel because
    both sort by (h1, h2) before applying."""
    import pandas as pd

    nb, ns, mk = state.n_buckets, state.n_slots, state.max_kicks
    b = state.broadcast(spark)
    assert op in ("add", "delete")

    def one_bucket(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        bucket = int(key[0])
        sub = CuckooState(1, ns, mk)
        sub.table[0] = b.value.table[bucket]
        sub.n_items[0] = int(b.value.n_items[bucket])
        h1 = pdf["_h1"].to_numpy(dtype=np.int64).view(np.uint64)
        # collapse the partition index: sub-filter has n_buckets=1 so
        # h1 % 1 == 0 routes every key to its (only) row; i1/fp unchanged
        h2 = pdf["_h2"].to_numpy(dtype=np.int64).view(np.uint64)
        if op == "add":
            sub.add_hashes(h1, h2)
        else:
            sub.delete_hashes(h1, h2)
        return pd.DataFrame(
            {"bucket": [bucket], "blob": [sub.table[0].tobytes()],
             "n_items": [int(sub.n_items[0])]}
        )

    rows = (
        keys_df.select("_h1", "_h2", "bucket")
        .groupBy("bucket")
        .applyInPandas(one_bucket, schema="bucket int, blob binary, n_items long")
        .collect()
    )
    out = CuckooState(nb, ns, mk)
    out.table = state.table.copy()
    out.n_items = state.n_items.copy()
    for r in rows:
        out.table[r.bucket] = np.frombuffer(
            r.blob, dtype=np.uint16).reshape(ns, 4)
        out.n_items[r.bucket] = r.n_items
    return out
