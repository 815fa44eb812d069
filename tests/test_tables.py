"""Snapshot-commit semantics: atomicity, isolation, compaction, resume."""

import json
import os

from pyspark.sql import functions as F

from crawlspark import schemas
from crawlspark.operators.bloom import BloomBucketStore, BloomState
from crawlspark.tables import SnapshotCatalog


def _metrics_df(spark, batch_id, n=3):
    rows = [(batch_id, f"h{i}", 1, 1, 0, 0, 0, 0, 0, 10) for i in range(n)]
    return spark.createDataFrame(rows, schemas.METRICS)


def test_commit_appends_and_reads(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    cat.commit(2, appends={"metrics": _metrics_df(spark, 2)})
    assert cat.read("metrics").count() == 6
    assert cat.latest()["batch_id"] == 2


def test_reader_isolated_from_uncommitted_files(spark, tmp_path):
    """Orphan data files (a crashed writer that never swapped LATEST) must
    be invisible: readers follow the manifest, not the directory."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    m1 = cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    # simulate a crash: data written, manifest json written, LATEST not swapped
    orphan = os.path.join(str(tmp_path), "metrics", "snap999999-deadbeef")
    _metrics_df(spark, 99).write.parquet(orphan)
    with open(os.path.join(str(tmp_path), "_snapshots", "snap-999999.json"), "w") as f:
        json.dump({"snapshot_id": 999999, "tables": {"metrics": [orphan]}}, f)
    assert cat.read("metrics").count() == 3  # orphan invisible
    assert cat.latest()["snapshot_id"] == m1["snapshot_id"]


def test_old_snapshot_still_readable(spark, tmp_path):
    """Snapshot isolation: a reader holding manifest N sees N's data even
    after newer commits (time travel across the delta log)."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    m1 = cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    cat.commit(2, appends={"metrics": _metrics_df(spark, 2)})
    assert cat.read("metrics", m1).count() == 3
    assert cat.read("metrics").count() == 6


def test_replace_resets_file_list(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    cat.commit(2, appends={"metrics": _metrics_df(spark, 2)})
    compacted = cat.read("metrics").filter(F.col("batch_id") == 2)
    cat.commit(3, appends={}, replace={"metrics": compacted})
    assert cat.read("metrics").count() == 3
    assert len(cat.latest()["tables"]["metrics"]) == 1


def test_empty_append_reads_back_empty(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    empty = spark.createDataFrame([], schemas.METRICS)
    cat.commit(1, appends={"metrics": empty})
    assert cat.read("metrics").count() == 0
    cat.commit(2, appends={"metrics": _metrics_df(spark, 2)})
    assert cat.read("metrics").count() == 3


def test_expire_snapshots_removes_only_dead_files(spark, tmp_path):
    """Expiry deletes files referenced by no surviving manifest; the
    current table contents are untouched and still readable."""
    import os

    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    cat.commit(2, appends={"metrics": _metrics_df(spark, 2)})
    # compaction: snapshot 3 references ONLY the compacted base
    compacted = cat.read("metrics")
    cat.commit(3, appends={}, replace={"metrics": compacted})
    n_dirs_before = len(os.listdir(os.path.join(str(tmp_path), "metrics")))
    assert n_dirs_before >= 3

    res = cat.expire_snapshots(keep_last=1)
    assert res["snapshots_removed"] == 2
    assert res["files_removed"] >= 2
    # live data intact
    assert cat.read("metrics").count() == 6
    n_dirs_after = len(os.listdir(os.path.join(str(tmp_path), "metrics")))
    assert n_dirs_after < n_dirs_before


def test_expire_keeps_everything_when_few_snapshots(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    assert cat.expire_snapshots(keep_last=5) == {"snapshots_removed": 0, "files_removed": 0}
    assert cat.read("metrics").count() == 3


def test_crawl_with_expiry_still_resumes(spark, tmp_path):
    """Expire old snapshots mid-crawl → resume still works and output is
    unchanged (the kept snapshot carries the complete table state)."""
    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, run_crawl

    spec = synthetic.WebSpec(scale=0.08)
    wh1, wh2 = str(tmp_path / "a"), str(tmp_path / "b")
    cfg = dict(spec=spec, max_batches=20, budget_override=12, compact_every=3)
    full = run_crawl(spark, CrawlConfig(warehouse=wh1, **cfg))

    run_crawl(spark, CrawlConfig(warehouse=wh2, max_batches=3, spec=spec,
                                 budget_override=12, compact_every=3))
    cat2 = SnapshotCatalog(spark, wh2)
    cat2.expire_snapshots(keep_last=1)
    resumed = run_crawl(spark, CrawlConfig(warehouse=wh2, **cfg), resume=True)
    a = {r["url"] for r in SnapshotCatalog(spark, wh1).read("urlseen").collect()}
    b = {r["url"] for r in cat2.read("urlseen").collect()}
    assert a == b
    assert full["n_documents"] == resumed["n_documents"]


def test_compaction_merges_append_only_delta_files(spark, tmp_path):
    """Per-batch read cost must scale with compaction count, not batch
    count: after a crawl with several compactions, each append-only log's
    file count stays far below the batch count, and the merged tables'
    contents equal what pure appends would have produced (e2e tests pin
    the values; here we pin the file-count bound + row preservation)."""
    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, run_crawl
    from crawlspark.tables import SnapshotCatalog

    wh = str(tmp_path / "wh")
    s = run_crawl(spark, CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=0.1),
                                     max_batches=24, budget_override=10, compact_every=3))
    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    assert s["batches"] >= 9
    n_compactions = s["batches"] // 3
    for tbl in ("urlseen", "progress", "fetched"):
        n_files = len(m["tables"].get(tbl, []))
        # ≤ ~2 files per compaction window (the merged window + the
        # compaction commit's own append), never one per batch
        assert n_files <= 2 * n_compactions + 2, (tbl, n_files, s["batches"])
    assert n_compactions * 2 + 2 < s["batches"] or s["batches"] < 12  # sublinear once batches grow
    # row-level preservation: urlseen row count equals the seen-set size
    # (no rows lost or duplicated by merges)
    seen = cat.read("urlseen", m)
    assert seen.count() == seen.select("url").distinct().count()


def test_snap_of_anchored_to_basename(tmp_path):
    """A warehouse root whose OWN path contains 'snapN-' must not shadow
    every file's real snapshot id (that would corrupt _pending's
    manifest-level pruning and tiered-merge input selection)."""
    assert SnapshotCatalog.snap_of("/wh/urlseen/snap000007-abcd1234") == 7
    assert SnapshotCatalog.snap_of("/wh/urlseen/snap000007-abcd1234/") == 7
    # poisoned parent dir: leaf has no snap marker -> 0, not the parent's 1
    assert SnapshotCatalog.snap_of("/data/snap1-test/wh/urlseen/part-0.parquet") == 0
    # poisoned parent + real leaf: the LEAF id wins
    assert SnapshotCatalog.snap_of("/data/snap1-test/wh/urlseen/snap000009-ff00aa11") == 9


def test_expire_sweeps_orphaned_bloom_blobs(spark, tmp_path):
    """Bloom bucket blobs are written as applyInPandas side effects, so a
    Spark task retry can leave a duplicate file no manifest references —
    expire_snapshots must sweep those orphans while keeping every blob any
    surviving manifest needs (ADVICE r2: orphaned blobs leak disk forever)."""
    import numpy as np

    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, run_crawl
    from crawlspark.tables import SnapshotCatalog

    wh = str(tmp_path / "wh")
    run_crawl(spark, CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=0.05),
                                 max_batches=6, budget_override=10,
                                 compact_every=3, bloom_partitioned=True))
    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    store = cat.load_bloom(m)
    assert isinstance(store, BloomBucketStore)
    live_before = set(store.referenced_files())
    assert live_before
    # plant a fake retry-orphan next to a real blob
    bucket_dir = os.path.dirname(next(iter(live_before)))
    orphan = os.path.join(bucket_dir, "bucket-99999-deadbeef.npy")
    np.save(orphan, np.zeros(4, dtype=np.uint8))
    res = cat.expire_snapshots(keep_last=1)
    assert not os.path.exists(orphan), "orphan blob must be swept"
    # every blob the surviving manifest references is still there
    store = cat.load_bloom(cat.latest())
    assert isinstance(store, BloomBucketStore)
    for p in store.referenced_files():
        assert os.path.exists(p), p
    assert res["files_removed"] >= 1


def test_crash_between_manifest_and_pointer_is_invisible(spark, tmp_path):
    """Atomic-commit property under the worst crash point: the manifest
    JSON is durable but the LATEST pointer swap never happened.  Readers
    must keep seeing the previous snapshot, and the next successful commit
    must supersede the orphan cleanly."""
    import shutil as _sh

    cat = SnapshotCatalog(spark, str(tmp_path))
    m1 = cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    # simulate the crash: a snap file for an uncommitted snapshot exists,
    # pointer still names snapshot 1
    orphan = dict(m1, snapshot_id=2, batch_id=2)
    with open(os.path.join(str(tmp_path), "_snapshots", "snap-000002.json"), "w") as f:
        json.dump(orphan, f)
    assert cat.latest()["snapshot_id"] == 1  # reader unaffected
    assert cat.read("metrics").count() == 3
    # recovery: the retry recommits batch 2; its snapshot id is allocated
    # from the COMMITTED chain (prev+1 = 2) and its manifest replaces the
    # orphan file content before the pointer swap
    m2 = cat.commit(2, appends={"metrics": _metrics_df(spark, 2)})
    assert m2["snapshot_id"] == 2
    assert cat.latest()["batch_id"] == 2
    assert cat.read("metrics").count() == 6


def test_expire_with_symlinked_root_keeps_live_blobs(spark, tmp_path):
    """Opening the same warehouse through a different path spelling (here a
    symlink; relative-vs-absolute is the same hazard) must not make the
    orphan sweep classify LIVE bloom blobs as orphans and delete committed
    state (ADVICE r3: verbatim path-string comparison)."""
    import numpy as np

    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, run_crawl
    from crawlspark.tables import SnapshotCatalog

    wh = str(tmp_path / "wh")
    run_crawl(spark, CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=0.05),
                                 max_batches=6, budget_override=10,
                                 compact_every=3, bloom_partitioned=True))
    alias = str(tmp_path / "wh-alias")
    os.symlink(wh, alias)
    cat = SnapshotCatalog(spark, alias)  # differently-spelled root
    store = cat.load_bloom(cat.latest())
    assert isinstance(store, BloomBucketStore)
    live = set(store.referenced_files())
    assert live
    cat.expire_snapshots(keep_last=1)
    for p in live:
        assert os.path.exists(p), f"live blob wrongly swept: {p}"
    # warehouse still loads and probes after the sweep through the alias
    store = cat.load_bloom(cat.latest())
    assert isinstance(store, BloomBucketStore)
    assert set(store.referenced_files()) == live


def test_legacy_fetched_cache_without_snap_id_still_reads(spark, tmp_path):
    """Pre-snap_id warehouses have fetched files lacking the column; reads
    must fill null (schema declares it nullable) and the staleness filter
    must treat null as oldest-possible instead of erroring (ADVICE r3)."""
    from crawlspark import schemas as S

    legacy = spark.createDataFrame(
        [("http://a/1", 1, 200, "gzip", "h1", 0)],
        "url string, url_hash long, status int, content_encoding string, "
        "body_hash string, batch_id int",
    )
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(0, appends={"fetched": legacy})
    got = cat.read("fetched")
    assert "snap_id" in got.columns
    rows = got.select("url", "snap_id").collect()
    assert rows[0]["snap_id"] is None
    # the staleness predicate form used by run_batch: null -> 0 -> expired
    kept = got.filter(
        F.coalesce(F.col("snap_id"), F.lit(0)) >= 100
    ).count()
    assert kept == 0


def test_expire_sweeps_crash_orphan_table_dirs(spark, tmp_path):
    """A commit that crashed after its table writes but before the
    manifest swap leaves snapNNN-<uuid> dirs no manifest ever references;
    expire must sweep exactly those and leave every live delta (and any
    non-catalog dir in the warehouse) untouched."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    cat.commit(2, appends={"metrics": _metrics_df(spark, 2)})
    live = [p for ps in cat.latest()["tables"].values() for p in ps]

    # simulate the crash leftover: a write that never got a manifest
    orphan = os.path.join(str(tmp_path), "metrics", "snap000099-deadbeef")
    _metrics_df(spark, 99).write.parquet(orphan)
    # and a dir the catalog did NOT write (name doesn't match the
    # commit pattern): must never be touched
    alien = os.path.join(str(tmp_path), "metrics", "user-backup")
    os.makedirs(alien)

    res = cat.expire_snapshots(keep_last=10)  # no manifest is expired
    assert not os.path.exists(orphan), "crash orphan not swept"
    assert os.path.isdir(alien), "non-catalog dir was wrongly touched"
    for p in live:
        assert os.path.exists(p), f"live delta wrongly swept: {p}"
    assert res["files_removed"] >= 1
    assert cat.read("metrics").count() == 6  # both committed deltas read


def _latest_moves_after_first_read(cat, stale):
    """Patch ``cat.latest`` so its first call returns ``stale`` (the base a
    second writer would have read) and every later call the real LATEST."""
    from unittest import mock

    calls = {"n": 0}
    real = cat.latest

    def stale_then_real():
        calls["n"] += 1
        return stale if calls["n"] == 1 else real()

    return mock.patch.object(cat, "latest", side_effect=stale_then_real)


def test_concurrent_commit_loses_cleanly(spark, tmp_path):
    """Optimistic concurrency: a commit based on a stale LATEST must be
    refused at swap time, corrupting nothing — the winner's manifest and
    data survive, the loser's deltas become sweepable orphans."""
    import pytest

    from crawlspark.tables import ConcurrentCommitError

    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    stale = cat.latest()  # the base a second writer would have read
    cat.commit(2, appends={"metrics": _metrics_df(spark, 2)})  # winner

    with _latest_moves_after_first_read(cat, stale):
        with pytest.raises(ConcurrentCommitError):
            cat.commit(3, appends={"metrics": _metrics_df(spark, 3)})

    # winner intact: pointer, manifest file set, and data all unchanged
    assert cat.latest()["snapshot_id"] == 2
    assert cat.snapshots() == [1, 2]
    assert cat.read("metrics").count() == 6
    # the loser's delta dir is unreferenced; the orphan sweep collects it
    res = cat.expire_snapshots(keep_last=10)
    assert res["files_removed"] >= 1
    assert cat.read("metrics").count() == 6


def test_rollback_refuses_moved_latest(spark, tmp_path):
    """rollback publishes through the same conflict check as commit: when
    LATEST moves between its base read and its pointer swap, it is
    refused and publishes no manifest."""
    import pytest

    from crawlspark.tables import ConcurrentCommitError

    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    stale = cat.latest()
    cat.commit(2, appends={"metrics": _metrics_df(spark, 2)})  # winner

    with _latest_moves_after_first_read(cat, stale):
        with pytest.raises(ConcurrentCommitError):
            cat.rollback(1)
    assert cat.latest()["snapshot_id"] == 2
    assert cat.snapshots() == [1, 2]


def test_append_survives_same_table_replace(spark, tmp_path):
    """An append lands on top of a same-table replace in one commit: both
    row sets read back (a compaction batch can rewrite the hosts table
    while its state update appends newly discovered hosts)."""

    def hosts_df(names):
        return spark.createDataFrame(
            [(h, 1.0, 5, [], []) for h in names], schemas.HOSTS)

    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit(1, appends={"hosts": hosts_df(["old.example"])})
    m = cat.commit(
        2, appends={"hosts": hosts_df(["new.example"])},
        replace={"hosts": hosts_df(["a.example", "b.example"])},
    )
    got = sorted(r["host"] for r in cat.read("hosts", m).collect())
    assert got == ["a.example", "b.example", "new.example"]
    assert len(m["tables"]["hosts"]) == 2


def test_commit_refuses_an_undeclared_table(spark, tmp_path):
    """Every table is written and read with its declared schema, so a
    commit naming a table ``schemas`` does not declare is refused before
    any file or manifest is written."""
    import pytest

    cat = SnapshotCatalog(spark, str(tmp_path))
    m1 = cat.commit(1, appends={"metrics": _metrics_df(spark, 1)})
    with pytest.raises(ValueError, match="nope"):
        cat.commit(2, appends={"metrics": _metrics_df(spark, 2), "nope": _metrics_df(spark, 2)})
    assert cat.latest() == m1
    assert not (tmp_path / "nope").exists()
    assert len(os.listdir(tmp_path / "metrics")) == 1


def test_commit_records_only_its_own_bloom_layout(spark, tmp_path):
    """A commit records its Bloom layout's manifest key and drops the
    other layout's, whichever the previous snapshot held (broadcast →
    partitioned → broadcast), and load_bloom returns the matching type."""
    import numpy as np

    cat = SnapshotCatalog(spark, str(tmp_path))
    bloom = BloomState(4, 1 << 12)
    bloom.add_hashes(np.array([1, 2], dtype=np.uint64), np.array([3, 5], dtype=np.uint64))
    blob = os.path.join(str(tmp_path), "bucket-00000.npy")
    np.save(blob, bloom.blobs[0])
    store = BloomBucketStore(4, 1 << 12, 7, {0: blob}, {0: 1})
    layouts = ((bloom, "bloom_path"), (store, "bloom_store_path"), (bloom, "bloom_path"))
    for batch, (seen, key) in enumerate(layouts, start=1):
        m = cat.commit(batch, appends={}, bloom=seen, state={"kept": batch})
        assert [k for k in m["state"] if k.startswith("bloom")] == [key]
        assert m["state"]["kept"] == batch
        loaded = cat.load_bloom(m)
        assert type(loaded) is type(seen)
        assert loaded.bloom_keys() == seen.bloom_keys()

