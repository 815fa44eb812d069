"""Snapshot-committed Parquet tables (the engine's Iceberg-role layer).

No Iceberg runtime jar ships in this sandbox, so this module provides the
subset of Iceberg semantics the engine needs — append-only delta logs,
atomic multi-table commits, snapshot isolation, resume-from-snapshot,
compaction — over plain Parquet + JSON manifests:

  * every micro-batch writes its per-table delta files, then one manifest
    JSON listing the *complete* file set of every table plus engine state
    (the URL-seen filter, batch counter, Bloom lineage; host politeness
    lives in the ``hosts`` table), then atomically renames a tmp pointer
    onto ``_snapshots/LATEST`` — readers see either the old or the new
    snapshot, never a partial commit (north_rule: "resume exactly from
    the last committed frontier snapshot");
  * ``pending`` frontier = frontier deltas LEFT ANTI JOIN progress deltas
    (MERGE-style updates without rewriting the big table); a compaction
    commit (``replace`` + ``rewrite``, driven by ``crawl._compaction``)
    rewrites the pending set as a new frontier base and folds each
    append-only log's deltas into one file, so per-batch read cost stays
    flat as the crawl grows while progress stays the complete audit log;
  * per-snapshot lineage: the manifest records, per table, which files
    each batch added (metrics table holds per-(batch, host) counters).

Swapping in a real Iceberg catalog (`spark.sql.catalog.*` + MERGE INTO /
snapshot expiry) replaces exactly this module and nothing else.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from crawlspark import schemas
from crawlspark.operators.bloom import BLOB_DIR, SEEN_STATE_KEYS, load_seen_state, seen_state_files

# commit()'s table-delta leaf-dir naming (snapNNNNNN-<uuid8>); the
# crash-orphan sweep in expire_snapshots matches against this exactly so
# it can never touch a dir the catalog didn't write
_SNAP_DIR_RX = re.compile(r"^snap\d{6}-[0-9a-f]{8}$")


class ConcurrentCommitError(RuntimeError):
    """Another writer swung LATEST between this commit's base read and
    its pointer swap; the commit was refused with nothing corrupted."""


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_snapshots"), exist_ok=True)
        os.makedirs(self.state_dir, exist_ok=True)

    # ---------- snapshot plumbing ----------
    @property
    def _latest_path(self) -> str:
        return os.path.join(self.root, "_snapshots", "LATEST")

    def latest(self) -> dict | None:
        try:
            with open(self._latest_path) as f:
                snap_file = f.read().strip()
            with open(os.path.join(self.root, "_snapshots", snap_file)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _empty(self, table: str) -> DataFrame:
        return self.spark.createDataFrame([], schemas.TABLE_SCHEMAS[table])

    def read(self, table: str, manifest: dict | None = None) -> DataFrame:
        m = manifest or self.latest()
        paths = (m or {}).get("tables", {}).get(table, [])
        return self.read_files(table, paths)

    def read_files(self, table: str, paths: list[str]) -> DataFrame:
        """Read an explicit file-set of a table (manifest-level pruning —
        e.g. only the progress deltas newer than the frontier base)."""
        if not paths:
            return self._empty(table)
        return self.spark.read.schema(schemas.TABLE_SCHEMAS[table]).parquet(*paths)

    @staticmethod
    def snap_of(path: str) -> int:
        """Snapshot id a delta file-set was committed at (encoded by
        commit() in the LEAF dir name: .../table/snapNNNNNN-xxxx).  Matched
        against the basename only, anchored — a warehouse root that happens
        to contain 'snapN-' in a parent dir must not shadow every file's
        real snapshot id (that would corrupt _pending's manifest pruning)."""
        m = re.match(r"snap(\d+)-", os.path.basename(path.rstrip("/")))
        return int(m.group(1)) if m else 0

    def commit(
        self,
        batch_id: int,
        appends: dict[str, DataFrame],
        bloom=None,
        state: dict | None = None,
        replace: dict[str, DataFrame] | None = None,
        rewrite: dict[str, tuple[list[str], DataFrame]] | None = None,
        state_fn=None,
    ) -> dict:
        """Atomic multi-table commit: write deltas, then one manifest swap.

        ``appends`` tables gain a delta file-set; ``replace`` tables get
        their file list reset to just the new data (compaction);
        ``rewrite`` = {table: (paths_to_drop, merged_df)} swaps a subset of
        a table's files for their merged rewrite (tiered small-file
        compaction of append-only logs) — older manifests keep referencing
        the dropped files, so snapshot isolation holds and expire_snapshots
        garbage-collects them once no surviving manifest needs them.
        ``bloom`` is the URL-seen filter, in either Bloom layout; the
        manifest records it under that layout's key only.

        Optimistic concurrency: the catalog is single-writer by design;
        if another writer swung LATEST between this commit's base read
        and its pointer swap, the swap is REFUSED (ConcurrentCommitError)
        and this commit's delta files are left for the orphan sweep —
        the Iceberg commit-conflict contract, so two drivers pointed at
        one warehouse corrupt nothing (the loser loses cleanly).
        """
        prev = self.latest() or {"snapshot_id": 0, "tables": {}, "state": {}}
        snap_id = prev["snapshot_id"] + 1
        tables = {k: list(v) for k, v in prev["tables"].items()}
        lineage = {}

        def write(table: str, df: DataFrame) -> str | None:
            path = os.path.join(self.root, table, f"snap{snap_id:06d}-{uuid.uuid4().hex[:8]}")
            df.write.mode("overwrite").parquet(path)
            # empty writes still create the dir; keep manifest clean
            n_files = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
            if n_files == 0:
                shutil.rmtree(path, ignore_errors=True)
                return None
            return path

        # the per-table delta writes are independent Spark jobs over tiny
        # frames — submit them CONCURRENTLY (Spark job submission is
        # thread-safe; a politeness batch's wall time was dominated by
        # ~0.7s of fixed job overhead × N tables run back-to-back).  The
        # manifest is assembled only after every write lands, so the
        # atomic-commit property is unchanged.
        from concurrent.futures import ThreadPoolExecutor

        jobs: list[tuple[str, str, object]] = []  # (kind, table, extra)
        for table, df in (replace or {}).items():
            jobs.append(("replace", table, df))
        for table, (drop, df) in (rewrite or {}).items():
            jobs.append(("rewrite", table, (drop, df)))
        for table, df in appends.items():
            jobs.append(("append", table, df))
        late_appends: dict[str, DataFrame] = {}
        with ThreadPoolExecutor(max_workers=min(8, max(1, len(jobs)))) as ex:
            futs = [
                (kind, table, extra,
                 ex.submit(write, table, extra[1] if kind == "rewrite" else extra))
                for kind, table, extra in jobs
            ]
            if state_fn is not None:
                # engine-state job (Bloom delta + host discovery) runs on
                # the CALLER thread while the pool writes the table deltas
                # — independent Spark jobs overlapped per guide §2.6.  Its
                # results land in the same manifest (state + any late
                # appends written below, before the pointer swap), so the
                # atomic multi-table commit property is unchanged.
                sres = state_fn() or {}
                bloom = sres.get("bloom", bloom)
                if sres.get("state"):
                    state = {**(state or {}), **sres["state"]}
                late_appends = sres.get("appends") or {}
            results = [(k, t, e, f.result()) for k, t, e, f in futs]
        for kind, table, extra, p in results:
            if kind == "replace":
                tables[table] = [p] if p else []
                lineage[table] = {"mode": "replace", "path": p}
            elif kind == "rewrite":
                dropset = set(extra[0])
                tables[table] = [x for x in tables.get(table, []) if x not in dropset]
                if p:
                    tables[table].append(p)
                lineage[table] = {"mode": "rewrite", "path": p, "merged_files": len(dropset)}
            else:
                if p:
                    tables.setdefault(table, []).append(p)
                lineage[table] = {"mode": "append", "path": p}
        # late appends go on AFTER the replace/rewrite file lists are
        # settled: a same-table replace must not drop them
        for table, df in late_appends.items():
            p = write(table, df)
            if p:
                tables.setdefault(table, []).append(p)
            lineage[table] = {"mode": "append", "path": p}

        new_state = dict(prev.get("state") or {})
        new_state.update(state or {})
        if bloom is not None:
            # one layout per snapshot: drop the key a previous layout
            # recorded (a recrawl may switch), then record this one's
            for key in SEEN_STATE_KEYS:
                new_state.pop(key, None)
            new_state[bloom.MANIFEST_KEY] = bloom.save_snapshot(self.state_dir, snap_id)

        manifest = {
            "snapshot_id": snap_id,
            "batch_id": batch_id,
            "committed_at": time.time(),
            "tables": tables,
            "state": new_state,
            "lineage": lineage,
        }
        self._publish(manifest, prev["snapshot_id"])
        return manifest

    def _publish(self, manifest: dict, base_id: int) -> None:
        """Write ``manifest`` and swing LATEST to it, unless LATEST has
        moved off ``base_id`` (the snapshot the manifest was computed
        against): then raise ConcurrentCommitError and publish nothing."""
        snap_file = f"snap-{manifest['snapshot_id']:06d}.json"
        snap_path = os.path.join(self.root, "_snapshots", snap_file)
        tmp = snap_path + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        # commit-conflict check BEFORE the manifest lands on its final
        # name (a stale-based commit computes a snap_id that collides
        # with the winner's manifest — it must never overwrite it): if
        # LATEST no longer names the base this commit was computed
        # against, another writer won — refuse.  Our delta files become
        # orphans the expiry sweep collects; the loser loses CLEANLY
        # (Iceberg's conflict contract).  A same-id manifest file with
        # LATEST unmoved is a CRASH leftover (manifest written, pointer
        # never swung) and is correctly overwritten.
        cur_id = (self.latest() or {"snapshot_id": 0})["snapshot_id"]
        if cur_id != base_id:
            os.remove(tmp)
            raise ConcurrentCommitError(
                f"commit based on snapshot {base_id} but LATEST "
                f"moved to {cur_id}; retry from the new base"
            )
        os.replace(tmp, snap_path)  # manifest durable first
        ptr_tmp = self._latest_path + ".tmp"
        with open(ptr_tmp, "w") as f:
            f.write(snap_file)
        os.replace(ptr_tmp, self._latest_path)  # the atomic commit point

    def snapshots(self) -> list[int]:
        """Retained snapshot ids, ascending (the time-travel surface:
        any id here can be read with manifest_at or resumed from with
        rollback, until expire_snapshots drops it)."""
        snap_dir = os.path.join(self.root, "_snapshots")
        try:
            names = os.listdir(snap_dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(f[len("snap-"):-len(".json")])
            for f in names if f.startswith("snap-") and f.endswith(".json")
        )

    def manifest_at(self, snapshot_id: int) -> dict:
        """Load a specific retained snapshot's manifest (time-travel
        read: pass the result to read(table, manifest))."""
        path = os.path.join(self.root, "_snapshots",
                            f"snap-{snapshot_id:06d}.json")
        with open(path) as f:
            return json.load(f)

    def rollback(self, snapshot_id: int) -> dict:
        """Iceberg-style rollback: make ``snapshot_id``'s state current by
        committing a NEW manifest that references the target's exact
        file set and state (tables, Bloom blobs, batch_id), then swinging
        LATEST to it.  The abandoned newer snapshots stay readable until
        expire_snapshots; because the rollback manifest REFERENCES the
        old files, expiry keeps them live for as long as any surviving
        manifest (including this one) needs them.  A fresh snapshot id
        (max existing + 1) is always minted — no manifest file is ever
        overwritten, so history stays append-only and auditable.

        This is the time-travel resume primitive: rollback(S) then
        run_crawl(resume=True) re-runs the crawl from exactly the state
        committed at S (deterministic engine ⇒ same final state as a
        straight run).  Like commit, it refuses (ConcurrentCommitError)
        when another writer moves LATEST while it runs."""
        base_id = (self.latest() or {"snapshot_id": 0})["snapshot_id"]
        target = self.manifest_at(snapshot_id)  # raises if expired/absent
        snaps = self.snapshots()
        manifest = {
            "snapshot_id": (snaps[-1] if snaps else 0) + 1,
            "batch_id": target["batch_id"],
            "committed_at": time.time(),
            "tables": {k: list(v) for k, v in target["tables"].items()},
            "state": dict(target.get("state") or {}),
            "lineage": {"rollback_of": snapshot_id},
        }
        self._publish(manifest, base_id)
        return manifest

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg-style snapshot expiry: drop manifests older than the
        newest ``keep_last`` and physically delete data files (and Bloom
        blobs) referenced by no surviving manifest.  Readers holding a
        surviving manifest are unaffected; the LATEST pointer never moves.

        Returns {'snapshots_removed': n, 'files_removed': n}.
        """
        snap_dir = os.path.join(self.root, "_snapshots")
        snaps = sorted(f for f in os.listdir(snap_dir) if f.startswith("snap-") and f.endswith(".json"))
        if len(snaps) <= keep_last:
            # nothing to expire, but the orphan sweeps below still run
            # (crash leftovers are unreferenced regardless of retention)
            keep, drop = list(snaps), []
        else:
            keep, drop = snaps[-keep_last:], snaps[:-keep_last]
        with open(self._latest_path) as f:
            latest_file = f.read().strip()
        if latest_file in drop:  # never expire the committed snapshot
            drop.remove(latest_file)
            keep.append(latest_file)

        def refs(files: list[str]) -> set[str]:
            out: set[str] = set()
            for fn in files:
                with open(os.path.join(snap_dir, fn)) as fh:
                    m = json.load(fh)
                for paths in m.get("tables", {}).values():
                    out.update(p for p in paths if p)
                out.update(seen_state_files(m.get("state") or {}))
            # manifests may record paths under a different spelling of the
            # warehouse root than this session opened it with (relative vs
            # absolute, symlinked, './wh' vs 'wh') — comparing spellings
            # verbatim would classify every LIVE blob as an orphan and
            # delete committed Bloom state, so normalize to realpath here
            # and on the walked side before any membership test
            return {os.path.realpath(p) for p in out}

        live = refs(keep)
        dead = refs(drop) - live
        # Bloom bucket blobs are written as a side effect inside
        # applyInPandas, so a Spark task retry / speculative duplicate
        # writes a second file that NO manifest ever references — sweep the
        # bucket dirs for such orphans too (safe here: expire runs only
        # right after a commit, so every file of the in-flight batch is
        # referenced by the LATEST manifest, which is always in ``keep``).
        bucket_root = os.path.join(self.state_dir, BLOB_DIR)
        if os.path.isdir(bucket_root):
            for dirpath, _dirs, files in os.walk(bucket_root):
                for fn in files:
                    p = os.path.realpath(os.path.join(dirpath, fn))
                    if fn.endswith(".npy") and p not in live:
                        dead.add(p)
        # crash-orphan parquet sweep: a commit that crashed AFTER its
        # table writes but BEFORE the manifest swap leaves snapNNN-<uuid>
        # dirs referenced by NO manifest, ever — invisible to the
        # refs(drop)-live set above.  Safe here for the same reason as
        # the bucket sweep: expire runs only right after a commit in the
        # single-writer loop, so every in-flight file is referenced by
        # the LATEST manifest (always in ``keep``).
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if table.startswith("_") or not os.path.isdir(tdir):
                continue
            for d in os.listdir(tdir):
                if not _SNAP_DIR_RX.match(d):
                    continue
                p = os.path.realpath(os.path.join(tdir, d))
                if p not in live:
                    dead.add(p)
        n_files = 0
        for p in sorted(dead):
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                n_files += 1
            elif os.path.isfile(p):
                os.remove(p)
                n_files += 1
        for fn in drop:
            os.remove(os.path.join(snap_dir, fn))
        return {"snapshots_removed": len(drop), "files_removed": n_files}

    def load_bloom(self, manifest: dict | None = None):
        """The URL-seen filter of ``manifest`` (default: LATEST) in the
        layout it was committed in, or None."""
        m = manifest or self.latest()
        return load_seen_state((m or {}).get("state", {}))

    @property
    def state_dir(self) -> str:
        """Engine-state files: Bloom snapshots and bucket blobs."""
        return os.path.join(self.root, "_state")
