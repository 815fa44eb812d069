"""Golden end-to-end: engine vs single-threaded oracle (SURVEY §5), plus
resume-from-snapshot equality — the BASELINE.json pytest contract."""

import pytest
from pyspark.sql import functions as F

from crawlspark import synthetic
from crawlspark.crawl import CrawlConfig, init_crawl, run_batch, run_crawl
from crawlspark.operators.bloom import BloomBucketStore
from crawlspark.oracle import crawl_oracle
from crawlspark.tables import SnapshotCatalog

SCALE = 0.12
BUDGET = 15
MAX_BATCHES = 30


@pytest.fixture(scope="module")
def engine_run(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    spec = synthetic.WebSpec(scale=SCALE)
    summary = run_crawl(
        spark,
        CrawlConfig(warehouse=wh, spec=spec, max_batches=MAX_BATCHES,
                    budget_override=BUDGET, compact_every=4),
    )
    return spark, wh, summary


@pytest.fixture(scope="module")
def oracle_run():
    return crawl_oracle(synthetic.WebSpec(scale=SCALE), max_batches=MAX_BATCHES,
                        budget_override=BUDGET)


def _tables(spark, wh):
    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    seen = {r["url"] for r in cat.read("urlseen", m).collect()}
    prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"])
            for r in cat.read("progress", m).collect()}
    docs = {
        r["doc_id"]: {
            "spans": tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]),
            "title": r["title"], "published_date": r["published_date"],
            "source": r["source"], "url": r["url"], "batch_id": r["batch_id"],
        }
        for r in cat.read("documents", m).collect()
    }
    return seen, prog, docs


def test_seen_set_equal(engine_run, oracle_run):
    spark, wh, _ = engine_run
    seen, _, _ = _tables(spark, wh)
    assert seen == oracle_run.seen


def test_crawl_order_equal(engine_run, oracle_run):
    """Per-batch fetch sets + outcomes == oracle under same politeness
    budget (crawl-order equality at batch granularity)."""
    spark, wh, _ = engine_run
    _, prog, _ = _tables(spark, wh)
    ora = {(u, b, a, o) for (u, b, a, o, s) in oracle_run.progress}
    assert prog == ora


def test_documents_and_spans_equal(engine_run, oracle_run):
    spark, wh, _ = engine_run
    _, _, docs = _tables(spark, wh)
    assert set(docs) == set(oracle_run.docs)
    for did, d in docs.items():
        o = oracle_run.docs[did]
        assert d["spans"] == tuple(
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in o["spans"]
        ), did
        assert d["title"] == o["title"] and d["source"] == o["source"]
        assert d["published_date"] == o["published_date"]
        assert d["batch_id"] == o["batch_id"]


def test_resume_equals_uninterrupted(spark, tmp_path, engine_run, oracle_run):
    wh2 = str(tmp_path / "wh2")
    spec = synthetic.WebSpec(scale=SCALE)
    cfg_stop = CrawlConfig(warehouse=wh2, spec=spec, max_batches=2,
                           budget_override=BUDGET, compact_every=4)
    run_crawl(spark, cfg_stop)
    cfg_go = CrawlConfig(warehouse=wh2, spec=spec, max_batches=MAX_BATCHES,
                         budget_override=BUDGET, compact_every=4)
    run_crawl(spark, cfg_go, resume=True)
    _, wh_full, _ = engine_run[1], engine_run[1], None
    full = _tables(spark, engine_run[1])
    resumed = _tables(spark, wh2)
    assert full == resumed


def test_retries_and_outcomes_present(engine_run):
    """The synthetic web plants 5xx/202/404s; assert the engine recorded
    retry + skip + failure outcomes (not just the happy path)."""
    spark, wh, _ = engine_run
    _, prog, _ = _tables(spark, wh)
    outcomes = {o for (_, _, _, o) in prog}
    assert {"done", "retry", "skipped"} <= outcomes
    retried = [p for p in prog if p[3] == "retry"]
    assert retried, "expected at least one retryable fetch"
    # every retry eventually resolved at attempt+1
    for (u, b, a, o) in retried:
        assert any(p[0] == u and p[2] == a + 1 for p in prog), u


def test_partitioned_bloom_crawl_equals_broadcast(spark, tmp_path, engine_run):
    """Force the partitioned per-bucket Bloom path (the 10^10-key layout)
    through the FULL crawl loop: final tables must equal the broadcast
    run's (which the other tests pin to the oracle), the manifest must
    carry the bucket-store manifest instead of blob state, and hosts
    politeness must live in the hosts TABLE, not the manifest JSON."""
    wh = str(tmp_path / "whp")
    spec = synthetic.WebSpec(scale=SCALE)
    run_crawl(
        spark,
        CrawlConfig(warehouse=wh, spec=spec, max_batches=MAX_BATCHES,
                    budget_override=BUDGET, compact_every=4,
                    bloom_partitioned=True),
    )
    assert _tables(spark, wh) == _tables(spark, engine_run[1])

    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    assert m["state"].get("bloom_store_path") and not m["state"].get("bloom_path")
    store = cat.load_bloom(m)
    assert isinstance(store, BloomBucketStore)
    assert store.bloom_keys() == len(_tables(spark, wh)[0])  # == |urlseen|
    # manifest JSON carries no per-host state and stays O(bucket manifest)
    assert "hosts" not in m["state"]
    hosts_tbl = cat.read("hosts", m)
    assert hosts_tbl.count() == hosts_tbl.select("host").distinct().count() > 0


def test_recrawl_serves_articles_from_fetch_cache(spark, tmp_path, epoch1_copy):
    """S9 full semantics (reference HTTPCACHE, settings.py:84-89): a
    re-crawl epoch refetches listings but serves previously-fetched
    articles from the fetched-cache log — no article URL is fetched twice
    across epochs, new articles (spec grew) are still discovered, and the
    summary reports refetch_skipped."""
    from crawlspark.crawl import reset_for_recrawl

    wh = str(tmp_path / "whc")
    s1 = epoch1_copy(wh)
    cat = SnapshotCatalog(spark, wh)
    cache1 = {r["url"] for r in cat.read("fetched").select("url").collect()}
    assert cache1 and s1["refetch_skipped"] == 0
    # the cache log records transfer encodings + decoded-body hashes
    enc = {r["content_encoding"] for r in cat.read("fetched").collect()}
    assert "gzip" in enc and None in enc

    cfg2 = CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=0.15),
                       max_batches=25, budget_override=20, compact_every=4,
                       use_fetch_cache=True)
    reset_for_recrawl(spark, cfg2)
    s2 = run_crawl(spark, cfg2, resume=True)
    assert s2["refetch_skipped"] > 0
    # no ARTICLE fetched twice (listings always refetch — link discovery):
    # epoch-2 'done' article rows never hit a cached article url
    m2 = cat.latest()
    prog2 = cat.read("progress", m2)
    done2 = {r["url"] for r in prog2.filter("outcome = 'done'").collect()}
    art = lambda s: {u for u in s if "/news/" in u}  # noqa: E731
    assert not (art(done2) & art(cache1))
    cached2 = {r["url"] for r in prog2.filter("outcome = 'cached'").collect()}
    assert cached2 <= art(cache1) and len(cached2) == s2["refetch_skipped"]
    # old documents retained; the grown spec's new articles were found
    assert s2["n_documents"] >= s1["n_documents"]
    assert any(u not in cache1 for u in done2)  # genuinely new fetches


def test_fetch_cache_staleness_refetches_old_entries(spark, tmp_path, epoch1_copy):
    """Cache expiry (reference HTTPCACHE_EXPIRATION_SECS, settings.py:85):
    with fetch_cache_max_age_snaps set, re-crawl serves only cache entries
    written within the last N commits — stale articles REFETCH (which the
    no-expiry test above asserts can never happen), fresh ones still serve
    from cache, and nothing stale-only is ever served."""
    from pyspark.sql import functions as F

    from crawlspark.crawl import reset_for_recrawl

    wh = str(tmp_path / "whs")
    spec = synthetic.WebSpec(scale=0.1)
    epoch1_copy(wh)
    cat = SnapshotCatalog(spark, wh)
    cache1 = {r["url"]: r["snap_id"]
              for r in cat.read("fetched").groupBy("url")
              .agg(F.max("snap_id").alias("snap_id")).collect()}
    assert len(set(cache1.values())) > 2, "need fetches spread over snapshots"

    art1 = {u for u in cache1 if "/news/" in u}
    assert art1

    # epoch 2, TIGHT window (age 2 < the reset-commit gap alone): every
    # epoch-1 entry is expired from batch 1 on — articles REFETCH, which
    # the no-expiry test above asserts can never happen
    cfg2 = CrawlConfig(warehouse=wh, spec=spec, max_batches=30,
                       budget_override=20, compact_every=4,
                       use_fetch_cache=True, fetch_cache_max_age_snaps=2)
    reset_for_recrawl(spark, cfg2)
    s2 = run_crawl(spark, cfg2, resume=True)
    prog2 = cat.read("progress")
    done2 = {r["url"] for r in prog2.filter("outcome = 'done'").collect()}
    assert s2["refetch_skipped"] == 0
    assert done2 & art1, "stale cache entries must refetch"

    # epoch 3, LOOSE window: everything (epoch 1 + 2 entries) is fresh —
    # articles serve from cache through the same snap_id filter path.
    # This epoch ALSO switches to the partitioned Bloom layout: the reset
    # re-seeds whichever layout the new config uses, and the loop follows
    # the manifest — cache expiry and the 10^10-key state layout compose.
    cache12 = {r["url"] for r in cat.read("fetched").select("url").collect()}
    cfg3 = CrawlConfig(warehouse=wh, spec=spec, max_batches=30,
                       budget_override=20, compact_every=4,
                       use_fetch_cache=True, fetch_cache_max_age_snaps=10_000,
                       bloom_partitioned=True)
    m3 = reset_for_recrawl(spark, cfg3)
    assert m3["state"].get("bloom_store_path") and not m3["state"].get("bloom_path")
    s3 = run_crawl(spark, cfg3, resume=True)
    prog3 = cat.read("progress")
    done3 = {r["url"] for r in prog3.filter("outcome = 'done'").collect()}
    cached3 = {r["url"] for r in prog3.filter("outcome = 'cached'").collect()}
    assert s3["refetch_skipped"] > 0 and cached3 <= cache12
    assert not (done3 & {u for u in cache12 if "/news/" in u})


def test_bloom_autosizing_and_lineage(spark, tmp_path):
    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, run_crawl
    from crawlspark.tables import SnapshotCatalog

    cfg = CrawlConfig(warehouse=str(tmp_path / "wh"), spec=synthetic.WebSpec(scale=0.05),
                      max_batches=4, budget_override=15, expected_urls=500_000,
                      keep_snapshots=2, compact_every=2)
    assert cfg.bloom_buckets & (cfg.bloom_buckets - 1) == 0
    assert cfg.bloom_buckets * cfg.bloom_bits >= 500_000 * 10  # ≥10 bits/key
    run_crawl(spark, cfg)
    m = SnapshotCatalog(spark, str(tmp_path / "wh")).latest()
    assert m["state"]["bloom_keys"] > 0
    assert 0 <= m["state"]["bloom_fpr_estimate"] < 0.01
    import os
    snaps = [f for f in os.listdir(str(tmp_path / "wh" / "_snapshots")) if f.endswith(".json")]
    assert len(snaps) <= 4  # expiry ran after compactions


def test_recrawl_refreshes_robots(spark, tmp_path):
    """The re-crawl epoch re-fetches robots for every known host (the
    reference re-reads robots.txt each run even with a persistent HTTP
    cache): the hosts table is REPLACED with one freshly-built file set,
    values re-derived from robots.txt, one row per host, no duplicates."""
    from crawlspark.crawl import reset_for_recrawl

    wh = str(tmp_path / "whr")
    spec = synthetic.WebSpec(scale=0.05)
    cfg = CrawlConfig(warehouse=wh, spec=spec, max_batches=8, budget_override=10)
    run_crawl(spark, cfg)
    cat = SnapshotCatalog(spark, wh)
    hosts_before = {r["host"]: r["crawl_delay_s"]
                    for r in cat.read("hosts").collect()}
    m = reset_for_recrawl(spark, cfg)
    assert m["lineage"]["hosts"]["mode"] == "replace"
    after = cat.read("hosts", m)
    rows = after.collect()
    assert len(rows) == after.select("host").distinct().count()
    got = {r["host"]: r["crawl_delay_s"] for r in rows}
    assert got == hosts_before  # synthetic robots static -> same values
    # second epoch runs fine on the refreshed table
    s = run_crawl(spark, cfg, resume=True)
    assert s["n_progress"] > 0


def test_adaptive_fetch_cache_policy(spark, tmp_path, epoch1_copy):
    """Adaptive per-URL cache freshness (operators/freshness.py wired via
    cfg.fetch_cache_adaptive): base interval 0 makes every cache entry
    immediately due (all articles refetch); a huge base serves everything
    from cache — and the freshness state computed over the REAL fetch log
    shows the unchanged-streak doubling after the forced refetch epoch."""
    from pyspark.sql import functions as F

    from crawlspark.crawl import reset_for_recrawl
    from crawlspark.operators.freshness import freshness_state

    wh = str(tmp_path / "wha")
    spec = synthetic.WebSpec(scale=0.1)
    epoch1_copy(wh)
    cat = SnapshotCatalog(spark, wh)
    cache1 = {r["url"] for r in cat.read("fetched").select("url").collect()}
    art1 = {u for u in cache1 if "/news/" in u}
    assert art1

    # epoch 2: adaptive with base 0 — next_due == last_snap, so every
    # entry is due from batch 1 on; all articles refetch
    cfg2 = CrawlConfig(warehouse=wh, spec=spec, max_batches=30,
                       budget_override=20, compact_every=4,
                       use_fetch_cache=True, fetch_cache_adaptive=True,
                       adaptive_base_snaps=0)
    reset_for_recrawl(spark, cfg2)
    s2 = run_crawl(spark, cfg2, resume=True)
    prog2 = cat.read("progress")
    done2 = {r["url"] for r in prog2.filter("outcome = 'done'").collect()}
    assert s2["refetch_skipped"] == 0
    assert done2 & art1, "due cache entries must refetch"

    # the refetch wrote identical bodies (same spec): the freshness state
    # over the real log now shows streak >= 1 and a doubled interval
    hist = cat.read("fetched").select(
        "url",
        F.coalesce(F.col("snap_id"), F.lit(0)).cast("long").alias("snap_id"),
        F.coalesce(F.col("body_hash"), F.lit("")).alias("body_hash"),
    )
    st = {r["url"]: r for r in
          freshness_state(hist, base_snaps=2, max_doublings=5).collect()}
    doubled = [u for u in art1
               if u in st and st[u]["unchanged_streak"] >= 1
               and st[u]["interval_snaps"] >= 4]
    assert doubled, "refetched-unchanged articles must back off"

    # epoch 3: huge base — nothing is due, every cached article serves
    cfg3 = CrawlConfig(warehouse=wh, spec=spec, max_batches=30,
                       budget_override=20, compact_every=4,
                       use_fetch_cache=True, fetch_cache_adaptive=True,
                       adaptive_base_snaps=100_000)
    reset_for_recrawl(spark, cfg3)
    s3 = run_crawl(spark, cfg3, resume=True)
    prog3 = cat.read("progress")
    done3 = {r["url"] for r in prog3.filter("outcome = 'done'").collect()}
    cache12 = {r["url"] for r in cat.read("fetched").select("url").collect()}
    assert s3["refetch_skipped"] > 0
    assert not (done3 & {u for u in cache12 if "/news/" in u})


def test_global_cap_identity_when_not_binding(spark, tmp_path, oracle_run):
    """A huge global_batch_cap must be a no-op: yield-weighted admission
    with cap never binding reproduces the oracle's seen set and per-batch
    crawl order exactly (the cap reorders only WHICH rows are cut, never
    what a full batch fetches)."""
    wh = str(tmp_path / "wh_gcapbig")
    run_crawl(
        spark,
        CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=SCALE),
                    max_batches=MAX_BATCHES, budget_override=BUDGET,
                    compact_every=4, global_batch_cap=10**6),
    )
    seen, prog, _ = _tables(spark, wh)
    assert seen == oracle_run.seen
    ora = {(u, b, a, o) for (u, b, a, o, s) in oracle_run.progress}
    assert prog == ora


def test_global_cap_bounds_batch_size(spark, tmp_path):
    """With global_batch_cap=3, no batch admits more than 3 rows: every
    batch's fetch-side progress records (done/retry/failed/cached — the
    outcomes that consume admission slots) number <= 3, and the crawl
    still terminates cleanly."""
    import pyspark.sql.functions as F

    wh = str(tmp_path / "wh_gcap3")
    summary = run_crawl(
        spark,
        CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=SCALE),
                    max_batches=12, budget_override=BUDGET,
                    compact_every=4, global_batch_cap=3),
    )
    assert summary["batches"] >= 1
    cat = SnapshotCatalog(spark, wh)
    per_batch = (
        cat.read("progress", cat.latest())
        .filter(F.col("outcome").isin("done", "retry", "failed", "cached"))
        .groupBy("batch_id").count()
    )
    over = per_batch.filter(F.col("count") > 3)
    assert over.count() == 0, over.collect()
    assert per_batch.count() >= 1


def test_global_cap_resume_equals_uninterrupted(spark, tmp_path):
    """The caps compose with resume: a capped crawl killed mid-run and
    resumed lands on exactly the uninterrupted capped crawl's seen set and
    documents (admission is a pure function of frontier + metrics state,
    both snapshot-committed, so the cut is replayed identically).  Aging
    is on, so its batch-id term must replay identically too."""
    # cap=40 binds while the frontier is rich but still lets the crawl
    # terminate naturally inside max_batches — natural termination is what
    # makes the two warehouses directly comparable
    cfg_kw = dict(spec=synthetic.WebSpec(scale=SCALE), budget_override=BUDGET,
                  compact_every=4, global_batch_cap=40, trap_template_cap=50,
                  yield_age_bonus_permille=200)
    wh_a = str(tmp_path / "wh_capfull")
    run_crawl(spark, CrawlConfig(warehouse=wh_a, max_batches=40, **cfg_kw))
    wh_b = str(tmp_path / "wh_capresume")
    run_crawl(spark, CrawlConfig(warehouse=wh_b, max_batches=4, **cfg_kw))
    run_crawl(spark, CrawlConfig(warehouse=wh_b, max_batches=40, **cfg_kw),
              resume=True)
    seen_a, prog_a, docs_a = _tables(spark, wh_a)
    seen_b, prog_b, docs_b = _tables(spark, wh_b)
    assert seen_a == seen_b
    assert prog_a == prog_b
    assert set(docs_a) == set(docs_b)


def test_trap_cap_identity_when_not_binding(spark, tmp_path, engine_run, oracle_run):
    """A huge trap_template_cap must be a no-op: the guard's plan wiring
    cannot change the seen set or the crawl order when the cap never
    binds (same-seed equality vs the module baseline run)."""
    wh = str(tmp_path / "wh_trapbig")
    run_crawl(
        spark,
        CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=SCALE),
                    max_batches=MAX_BATCHES, budget_override=BUDGET,
                    compact_every=4, trap_template_cap=10**6),
    )
    seen, prog, _ = _tables(spark, wh)
    assert seen == oracle_run.seen
    ora = {(u, b, a, o) for (u, b, a, o, s) in oracle_run.progress}
    assert prog == ora


def test_trap_cap_bounds_admissions_when_binding(spark, tmp_path, engine_run):
    """With cap=1, every (host, template) admits at most one candidate per
    batch: the crawl still terminates cleanly and the final seen set is a
    strict subset of the uncapped baseline's (articles share one
    digit-normalized template per host, so the guard must bind on this
    web)."""
    from crawlspark.operators.scheduler import template_expr

    wh = str(tmp_path / "wh_trap1")
    summary = run_crawl(
        spark,
        CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=SCALE),
                    max_batches=MAX_BATCHES, budget_override=BUDGET,
                    compact_every=4, trap_template_cap=1),
    )
    assert summary["batches"] >= 1
    seen_capped, _, _ = _tables(spark, wh)
    base_spark, base_wh, _ = engine_run
    seen_base, _, _ = _tables(base_spark, base_wh)
    assert seen_capped < seen_base  # strictly fewer admissions
    # per-batch bound: admitted links per (host, template, batch) <= cap.
    # discovered_batch stamps the admitting batch on every frontier row.
    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    fr = cat.read("frontier", m)
    import pyspark.sql.functions as F
    over = (
        fr.filter(F.col("discovered_batch") >= 0)  # seeds use batch -1? keep all real batches
        .groupBy("host", template_expr(F.col("url")).alias("tpl"),
                 "discovered_batch")
        .count().filter(F.col("count") > 1)
    )
    assert over.count() == 0, over.limit(5).collect()


def test_zero_batch_stop_check(spark, tmp_path):
    """A batch that schedules nothing finishes (None) only when nothing is
    pending; a pending row gated to a later batch makes it commit and skip
    forward instead."""
    spec = synthetic.WebSpec(scale=SCALE)
    empty = CrawlConfig(warehouse=str(tmp_path / "empty"), spec=spec, seed_urls=[])
    m = init_crawl(spark, empty)
    cat = SnapshotCatalog(spark, empty.warehouse)
    assert run_batch(spark, cat, empty, m) is None

    gated = CrawlConfig(warehouse=str(tmp_path / "gated"), spec=spec,
                        seed_urls=synthetic.seed_urls(spec)[:1])
    m = init_crawl(spark, gated)
    cat = SnapshotCatalog(spark, gated.warehouse)
    frontier = cat.read("frontier", m).withColumn("not_before_batch", F.lit(10))
    m = cat.commit(0, appends={}, replace={"frontier": frontier})
    nxt = run_batch(spark, cat, gated, m)
    assert nxt is not None and nxt["batch_id"] == 1
    assert cat.read("progress", nxt).count() == 0


def _plan_nodes(plan) -> list:
    """Node names of a physical plan, not counting the plans inside
    cached relations."""
    kids = plan.children()
    return [plan.nodeName()] + [n for i in range(kids.size())
                                for n in _plan_nodes(kids.apply(i))]


def test_schedule_runs_pending_hosts_plan_once(spark, tmp_path):
    """``scheduled`` and ``retired`` both read one cached relation, so
    neither reruns the pending ⋈ hosts plan and its robots-regex UDF, and
    the one count job gives both row counts."""
    from crawlspark.crawl import _Batch, _release, _schedule

    spec = synthetic.WebSpec(scale=SCALE)
    # a section page www.fmt.example's robots.txt disallows
    cfg = CrawlConfig(warehouse=str(tmp_path / "wh"), spec=spec, budget_override=BUDGET,
                      seed_urls=[*synthetic.seed_urls(spec),
                                 "https://www.fmt.example/section/1/page/2"])
    m = init_crawl(spark, cfg)
    cat = SnapshotCatalog(spark, cfg.warehouse)
    seen = cat.load_bloom(m)
    b = _Batch(spark=spark, catalog=cat, cfg=cfg, manifest=m, batch_id=1,
               is_compact=False, seen=seen, prof=None)
    try:
        _schedule(b)
        assert b.n_retired == b.retired.count() == 1
        assert b.n_sched == b.scheduled.count() > 0
        for df in (b.scheduled, b.retired):
            nodes = _plan_nodes(df._jdf.queryExecution().sparkPlan())
            assert "InMemoryTableScan" in nodes, nodes
            assert not any("EvalPython" in n for n in nodes), nodes
    finally:
        _release(b)


def test_progress_appends_write_the_declared_schema(spark, tmp_path):
    """Every file of every table has the declared columns and nullability:
    per-batch appends whether or not their batch retired rows (a
    robots-blocked seed here), and the compaction replace and rewrites."""
    import pyarrow.parquet as pq

    from crawlspark.schemas import TABLE_SCHEMAS

    spec = synthetic.WebSpec(scale=SCALE)
    cfg = CrawlConfig(warehouse=str(tmp_path / "wh"), spec=spec, budget_override=BUDGET,
                      max_batches=4, compact_every=2,
                      seed_urls=[*synthetic.seed_urls(spec),
                                 "https://www.fmt.example/section/1/page/2"])
    run_crawl(spark, cfg)
    cat = SnapshotCatalog(spark, cfg.warehouse)
    m = cat.latest()
    assert cat.read("progress", m).filter("outcome = 'robots_blocked'").count()
    assert any(cat.manifest_at(snap)["lineage"]["frontier"]["mode"] == "replace"
               for snap in cat.snapshots())
    # a rewrite's output merges several batches' urlseen rows into one file
    assert any(len(set(pq.read_table(f, columns=["added_batch"]).column(0).to_pylist())) > 1
               for f in (tmp_path / "wh" / "urlseen").glob("snap*/*.parquet"))
    for table, schema in TABLE_SCHEMAS.items():
        files = sorted((tmp_path / "wh" / table).glob("snap*/*.parquet"))
        assert files, table
        declared = [(f.name, f.nullable) for f in schema]
        for f in files:
            assert [(c.name, c.nullable) for c in pq.read_schema(f)] == declared, f


def test_link_probe_over_cap_falls_back(spark, tmp_path, monkeypatch):
    """A batch's links are probed on the driver, or, over the cap, by the
    distributed probe; both give the same new frontier rows."""
    from crawlspark.crawl import _Batch, _fetch_parse, _link_probe, _release, _schedule
    from crawlspark.operators import urlseen

    cfg = CrawlConfig(warehouse=str(tmp_path / "wh"), spec=synthetic.WebSpec(scale=SCALE),
                      budget_override=BUDGET)
    m = init_crawl(spark, cfg)
    cat = SnapshotCatalog(spark, cfg.warehouse)

    def probe(cap):
        monkeypatch.setattr(urlseen, "_SMALL_BATCH_CAP", cap)
        b = _Batch(spark=spark, catalog=cat, cfg=cfg, manifest=m, batch_id=1,
                   is_compact=False, seen=cat.load_bloom(m), prof=None)
        try:
            _schedule(b)
            _fetch_parse(b)
            _link_probe(b)
            plan = b.new_frontier._jdf.queryExecution().executedPlan().toString()
            return sorted(b.new_frontier.collect(), key=lambda r: r["url"]), plan
        finally:
            _release(b)

    on_driver, driver_plan = probe(50_000)
    fallback, fallback_plan = probe(0)
    # the probe UDF runs only on the distributed path (the plans share the
    # schedule's robots-regex UDF)
    udf = "ArrowEvalPython [probe("
    assert udf not in driver_plan and udf in fallback_plan
    assert len(on_driver) > 0
    assert on_driver == fallback


def _cached_buffers_loaded(spark, df) -> bool:
    entry = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return entry.isDefined() and entry.get().cachedRepresentation().cacheBuilder(
    ).isCachedColumnBuffersLoaded()


def test_state_update_runs_before_the_writers(spark, tmp_path):
    """The URL-seen update is its own phase between the link probe and the
    commit: after it, the batch's new frontier rows are fully cached, so
    the probe ran once and the table writers only read the cache."""
    from crawlspark.crawl import (_Batch, _fetch_parse, _link_probe, _release, _schedule,
                                  _state_update)

    cfg = CrawlConfig(warehouse=str(tmp_path / "wh"), spec=synthetic.WebSpec(scale=SCALE),
                      budget_override=BUDGET)
    m = init_crawl(spark, cfg)
    cat = SnapshotCatalog(spark, cfg.warehouse)
    b = _Batch(spark=spark, catalog=cat, cfg=cfg, manifest=m, batch_id=1,
               is_compact=False, seen=cat.load_bloom(m), prof=None)
    try:
        _schedule(b)
        _fetch_parse(b)
        _link_probe(b)
        keys = b.seen.bloom_keys()
        seen, state, _hosts = _state_update(b)
        assert _cached_buffers_loaded(spark, b.new_frontier)
        n_new = b.new_frontier.count()
        assert n_new > 0 and seen is b.seen and seen.bloom_keys() == keys + n_new
        assert state["bloom_keys"] == seen.bloom_keys()
    finally:
        _release(b)


def test_small_batch_fused_stage_is_materialized(spark, tmp_path):
    """A politeness-sized batch's fused fetch/parse stage is fully cached
    before any downstream job runs, so the link probe and the commit's
    concurrent table writes only ever read the cache and no page is
    fetched twice."""
    from crawlspark.crawl import _Batch, _fetch_parse, _release, _schedule

    cfg = CrawlConfig(warehouse=str(tmp_path / "wh"), spec=synthetic.WebSpec(scale=SCALE),
                      budget_override=BUDGET)
    m = init_crawl(spark, cfg)
    cat = SnapshotCatalog(spark, cfg.warehouse)
    seen = cat.load_bloom(m)
    b = _Batch(spark=spark, catalog=cat, cfg=cfg, manifest=m, batch_id=1,
               is_compact=False, seen=seen, prof=None)
    try:
        _schedule(b)
        assert 0 < b.n_sched < 1000
        _fetch_parse(b)
        assert _cached_buffers_loaded(spark, b.pipe)
    finally:
        _release(b)
