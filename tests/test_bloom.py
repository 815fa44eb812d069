"""Bloom filter properties: zero false negatives, bounded FPR, merge/serde,
and probe/update equality across the URL-seen layouts."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawlspark.operators.bloom import BloomBucketStore, BloomState
from crawlspark.operators.cuckoo import CuckooState
from crawlspark.operators.urlseen import (HASH_SQL, _with_hashes, bloom_delta, bucket_sql,
                                          probe_unseen)

U64 = st.integers(min_value=0, max_value=2**64 - 1)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(U64, U64), min_size=1, max_size=200, unique=True))
def test_no_false_negatives(pairs):
    b = BloomState(n_buckets=8, bits_per_bucket=1 << 14)
    h1, h2 = (np.array(col, dtype=np.uint64) for col in zip(*pairs))
    b.add_hashes(h1, h2)
    assert b.probe_hashes(h1, h2).all()


def test_fpr_bound(random_keys):
    b = BloomState(n_buckets=16, bits_per_bucket=1 << 16, k=7)
    b.add_hashes(*random_keys(20000, seed=1))
    fp = int(b.probe_hashes(*random_keys(20000, seed=2)).sum())
    # theoretical ~ (1-e^{-kn/m})^k per bucket; assert a loose 4x margin
    assert fp / 20000 < 4 * max(b.fpr_estimate(), 1e-4), fp


def test_merge_and_serde(tmp_path, random_keys):
    a = BloomState(4, 1 << 12)
    b = BloomState(4, 1 << 12)
    h1, h2 = random_keys(3, seed=3)
    a.add_hashes(h1[:2], h2[:2])
    b.add_hashes(h1[2:], h2[2:])
    a.merge(b)
    assert a.probe_hashes(h1, h2).all()
    p = str(tmp_path / "bloom.npz")
    a.to_npz(p)
    c = BloomState.from_npz(p)
    assert c.probe_hashes(h1, h2).all()
    assert np.array_equal(c.blobs, a.blobs)


def test_delta_bits_or_merge(random_keys):
    base = BloomState(4, 1 << 12)
    h1, h2 = random_keys(3, seed=4)  # key 0 is the seed, keys 1-2 are new
    base.add_hashes(h1[:1], h2[:1])
    delta = base.empty_like()
    delta.add_hashes(h1[1:], h2[1:])
    assert not base.probe_hashes(h1[1:2], h2[1:2]).any()
    base.merge(delta)
    assert base.probe_hashes(h1, h2).all()


def test_mismatched_merge_rejected():
    with pytest.raises(AssertionError):
        BloomState(4, 1 << 12).merge(BloomState(8, 1 << 12))


def _urls(spark, n, key):
    return spark.range(n).select(
        "id", F.concat(F.lit("https://h"), (key % 40).cast("string"),
                       F.lit("/p/"), key.cast("string")).alias("url"))


@pytest.mark.parametrize("one_batch", [False, True])
@pytest.mark.parametrize("layout", ["broadcast", "bucket_store", "cuckoo"])
def test_probe_unseen_equals_exact_antijoin(spark, tmp_path, layout, one_batch):
    """probe_unseen over each URL-seen layout returns exactly the
    candidates missing from the exact set, with the candidates' own
    columns.  The cuckoo state holds keys since deleted (expired), which
    must re-admit."""
    seen = _urls(spark, 3000, F.col("id"))
    live = seen.filter(F.col("id") % 4 != 0).select("url")
    if layout == "cuckoo":
        keyed = seen.selectExpr("id", *HASH_SQL).collect()
        h1 = np.array([r["_h1"] for r in keyed], dtype=np.int64).view(np.uint64)
        h2 = np.array([r["_h2"] for r in keyed], dtype=np.int64).view(np.uint64)
        expired = np.array([r["id"] % 4 == 0 for r in keyed])
        state = CuckooState.for_keys(len(keyed), n_buckets=8)
        state.add_hashes(h1, h2)
        state.delete_hashes(h1[expired], h2[expired])
    else:
        state = (BloomState(8, 1 << 14) if layout == "broadcast"
                 else BloomBucketStore(8, 1 << 14, 7, root=str(tmp_path / "blobs")))
        state.merge(bloom_delta(spark, live, state))
    # overlaps the live, the expired and the never-seen keys
    cand = _urls(spark, 3000, F.col("id") + 1500).withColumn("tag", F.lit("c"))
    got = probe_unseen(spark, cand, live, state, one_batch=one_batch)
    assert got.columns == cand.columns
    want = {r.url for r in cand.join(live, "url", "left_anti").collect()}
    assert {r.url for r in got.collect()} == want
    assert 0 < len(want) < 3000  # some candidates are live: Bloom positives
    state.release()


def test_bucket_store_update_equals_broadcast_bits(spark, tmp_path):
    """The per-bucket store's grouped-map update writes the same bits as
    the broadcast layout's driver OR-merge, rewrites only the buckets a
    later update touches, and round-trips through its JSON manifest."""
    bloom = BloomState(n_buckets=16, bits_per_bucket=1 << 14)
    seen = _urls(spark, 5000, F.col("id"))
    bloom.merge(bloom_delta(spark, seen, bloom))

    # built from an EMPTY store by the distributed update (the crawl
    # path) — full state never on the driver
    store = BloomBucketStore(16, 1 << 14, k=7, root=str(tmp_path / "blobs"))
    store.merge(bloom_delta(spark, seen, store))
    assert store.bloom_keys() == 5000
    for b, path in store.paths.items():
        assert np.array_equal(np.load(path), bloom.blobs[b]), b

    # incremental update writes only touched buckets; untouched buckets
    # keep referencing the prior snapshot's files
    before = dict(store.paths)
    extra = spark.range(50).select(
        F.concat(F.lit("https://new/q/"), F.col("id").cast("string")).alias("url"))
    store.merge(bloom_delta(spark, extra, store))
    touched = {b for b in store.paths if store.paths[b] != before.get(b)}
    assert 0 < len(touched) <= 16
    assert all(store.paths[b] == before[b] for b in set(before) - touched)
    assert store.bloom_keys() == 5050
    # round-trip through the JSON manifest
    store.save(str(tmp_path / "m.json"))
    loaded = BloomBucketStore.load(str(tmp_path / "m.json"))
    assert loaded.paths == store.paths and loaded.n_items == store.n_items
    store.release()


def test_capacity_autosplit_doubles_buckets_and_keeps_equality(spark, tmp_path):
    """Over-fill a deliberately tiny partitioned store: the compaction-time
    capacity guard must rebuild at double the bucket count from the exact
    seen set, the crawl must stay equal to the oracle across the resize,
    and every seen URL must still probe positive (no false negatives —
    the rebuild derives bits from urlseen, not from the old bits)."""
    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, run_crawl
    from crawlspark.oracle import crawl_oracle
    from crawlspark.tables import SnapshotCatalog

    spec = synthetic.WebSpec(scale=0.25)
    wh = str(tmp_path / "wh")
    # 2 buckets x 512 bits, k=7, target FPR 0.1%: the worst bucket passes
    # 10x target (~53 keys/bucket) around batch 3-4 of this ~200-URL crawl
    # -> guard trips at a mid-crawl compaction (every 2 batches)
    cfg = CrawlConfig(
        warehouse=wh, spec=spec, max_batches=8, budget_override=10,
        bloom_partitioned=True, bloom_buckets=2, bloom_bits=1 << 9,
        compact_every=2, bloom_target_fpr=0.001,
    )
    run_crawl(spark, cfg)
    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    store = cat.load_bloom(m)
    assert isinstance(store, BloomBucketStore)
    assert store.n_buckets > 2, "capacity guard never split"
    assert store.n_buckets & (store.n_buckets - 1) == 0  # still a power of 2
    assert m["state"].get("bloom_resplit_to") == store.n_buckets
    # equality across the resize
    ora = crawl_oracle(spec, max_batches=8, budget_override=10)
    seen_rows = cat.read("urlseen").collect()
    seen = {r["url"] for r in seen_rows}
    assert seen == ora.seen
    docs = {r["doc_id"] for r in cat.read("documents").collect()}
    assert docs == set(ora.docs)
    # no false negatives after the rebuild: probing the full seen set
    # through the engine's own co-partitioned path must return NOTHING —
    # a false negative would surface as a "fresh" (unseen) row
    cand = cat.read("urlseen").select("url").withColumn(
        "host", F.lit("h")
    )
    unseen = probe_unseen(
        spark, cand, cat.read("urlseen"), store, one_batch=True
    )
    assert unseen.count() == 0, "seen URL probed as unseen after resplit"
    store.release()
    # key accounting survived the rebuild (each url counted exactly once)
    assert store.bloom_keys() == len(seen)


def test_resume_after_autosplit_stays_equal(spark, tmp_path):
    """Kill the crawl right after a capacity resplit, resume from the
    committed manifest, and run to completion: the resumed run must load
    the doubled store from the snapshot and end bit-equal to the oracle
    (resume × resplit composition)."""
    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, run_crawl
    from crawlspark.oracle import crawl_oracle
    from crawlspark.tables import SnapshotCatalog

    spec = synthetic.WebSpec(scale=0.25)
    wh = str(tmp_path / "wh")
    base = dict(warehouse=wh, spec=spec, budget_override=10,
                bloom_partitioned=True, bloom_buckets=2, bloom_bits=1 << 9,
                compact_every=2, bloom_target_fpr=0.001)
    # phase 1: stop at batch 4 (first resplit lands at a compaction <= 4)
    run_crawl(spark, CrawlConfig(max_batches=4, **base))
    cat = SnapshotCatalog(spark, wh)
    mid = cat.latest()
    assert mid["state"].get("bloom_resplit_to", 0) > 2, \
        "test premise: resplit must land before the kill point"
    # phase 2: resume to completion
    run_crawl(spark, CrawlConfig(max_batches=8, **base), resume=True)
    m = cat.latest()
    store = cat.load_bloom(m)
    assert isinstance(store, BloomBucketStore)
    assert store.n_buckets == mid["state"]["bloom_resplit_to"] or \
        store.n_buckets > mid["state"]["bloom_resplit_to"]  # may double again
    ora = crawl_oracle(spec, max_batches=8, budget_override=10)
    seen = {r["url"] for r in cat.read("urlseen").collect()}
    assert seen == ora.seen
    docs = {r["doc_id"] for r in cat.read("documents").collect()}
    assert docs == set(ora.docs)


def test_small_batch_delta_cap_falls_back_to_distributed(spark):
    """A one-batch update tries the capped driver collect first; when the
    batch holds more rows than the hard cap the function must fall
    through to the distributed path (bounded driver exposure) and still
    produce exactly the same bits."""
    urls = spark.range(60_000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 9).cast("string"),
                 F.lit("/p/"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 9).cast("string")).alias("host"),
    )
    base = BloomState(8, 1 << 16)
    # 60k rows > 50k cap
    d1, hosts = bloom_delta(spark, urls, base, collect_hosts=True, one_batch=True)
    d2 = bloom_delta(spark, urls, BloomState(8, 1 << 16))
    assert np.array_equal(d1.blobs, d2.blobs)
    assert int(d1.n_items.sum()) == 60_000
    assert hosts == {f"h{i}" for i in range(9)}


def _runs_probe_udf(df) -> bool:
    return "ArrowEvalPython" in df._jdf.queryExecution().executedPlan().toString()


def test_driver_probe_equals_distributed_probe(spark, monkeypatch):
    """A one-batch probe of a small batch on a BloomState runs on the
    driver and gives the rows of the distributed probe, which a batch over
    the cap falls back to; the Bloom bits and hosts of the one-batch
    update equal those of the distributed update."""
    from crawlspark.operators import urlseen

    live = _urls(spark, 3000, F.col("id")).select("url")
    # ~10 % FPR: many never-seen candidates are Bloom false positives
    state = BloomState(4, 1 << 12)
    state.merge(bloom_delta(spark, live, state))
    # ids 1500..2999 are rediscoveries, 3000..4499 are fresh
    cand = _urls(spark, 3000, F.col("id") + 1500).withColumn(
        "host", F.concat(F.lit("h"), (F.col("id") % 7).cast("string")))
    pdf = _with_hashes(cand).select("url", "_h1", "_h2").toPandas()
    positive = state.probe_hashes(*(pdf[c].to_numpy().view(np.uint64) for c in ("_h1", "_h2")))
    seen = pdf["url"].isin({r.url for r in live.collect()}).to_numpy()
    assert seen.sum() == 1500 and (positive & ~seen).sum() > 0 and (~positive).sum() > 0

    got = probe_unseen(spark, cand, live, state, one_batch=True)
    monkeypatch.setattr(urlseen, "_SMALL_BATCH_CAP", 2999)
    want = probe_unseen(spark, cand, live, state, one_batch=True)
    assert not _runs_probe_udf(got) and _runs_probe_udf(want)
    assert got.columns == cand.columns
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 1500
    monkeypatch.setattr(urlseen, "_SMALL_BATCH_CAP", 50_000)
    d1, hosts1 = bloom_delta(spark, got, state, collect_hosts=True, one_batch=True)
    d2, hosts2 = bloom_delta(spark, want, state, collect_hosts=True)
    assert np.array_equal(d1.blobs, d2.blobs) and np.array_equal(d1.n_items, d2.n_items)
    assert hosts1 == hosts2 == {f"h{i}" for i in range(7)}
    state.release()


def test_sql_hashes_equal_column_hashes(spark):
    """The SQL hash and bucket items give the bits the Column forms gave,
    so a committed Bloom state still answers for its keys on resume."""
    df = spark.range(1000).selectExpr(
        "concat('https://www.h', id % 7, '.example/p/', id) AS url")
    got = _with_hashes(df).selectExpr("*", bucket_sql(32))
    want = df.select(
        "url", F.xxhash64("url").alias("_h1"),
        F.xxhash64(F.lit("bloom-h2"), F.col("url")).alias("_h2"),
        F.pmod(F.xxhash64("url"), F.lit(32)).cast("int").alias("bucket"),
    )
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
