"""Scheduler invariants: two-phase salted top-K == plain top-K; robots
prefixes; budget caps; backoff gating; archive enrichment merge."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawlspark import schemas
from crawlspark.crawl import _hosts_with_rx
from crawlspark.operators.scheduler import schedule


def _pending(spark, n, n_hosts=3):
    return spark.range(n).select(
        F.concat(F.lit("https://www.h"), (F.col("id") % n_hosts).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("url"),
        F.xxhash64("id").alias("url_hash"),
        F.concat(F.lit("www.h"), (F.col("id") % n_hosts).cast("string"),
                 F.lit(".example")).alias("host"),
        F.lit(0).alias("depth"),
        (F.col("id") % 17).cast("double").alias("priority"),
        F.lit(0).alias("discovered_batch"), F.lit(0).alias("retry_count"),
        (F.col("id") % 7 == 0).cast("int").alias("not_before_batch"),  # some gated to batch 1
        F.lit("article").alias("page_kind"),
        F.lit(None).cast(schemas.META).alias("meta"),
    )


def _hosts(spark, hosts, budget=25, disallow=None, allow=None):
    return _hosts_with_rx(spark.createDataFrame(
        [(h, 0.5, budget, disallow or [], allow or []) for h in hosts],
        schemas.HOSTS,
    ), None)


def test_two_phase_topk_equals_plain_topk(spark):
    """The salted two-phase rank must select EXACTLY the rows a single
    global per-host window would — salting is a physical optimization,
    not a semantics change (hot-host skew, SURVEY §4.2)."""
    pending = _pending(spark, 5000, n_hosts=2)  # hot hosts
    hosts = _hosts(spark, ["www.h0.example", "www.h1.example"], budget=40)
    got = {(r["host"], r["url"]) for r in schedule(pending, hosts, 1).collect()}

    elig = pending.filter(F.col("not_before_batch") <= 1)
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
    want = {
        (r["host"], r["url"])
        for r in elig.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 40).collect()
    }
    assert got == want and len(got) == 80


def test_budget_and_backoff(spark):
    pending = _pending(spark, 300, n_hosts=3)
    hosts = _hosts(spark, [f"www.h{i}.example" for i in range(3)], budget=10)
    out = schedule(pending, hosts, 0).groupBy("host").count().collect()
    # batch 0: rows with not_before_batch=1 (id%7==0) are gated out
    assert all(r["count"] == 10 for r in out)
    out1 = schedule(pending, hosts, 1)
    assert out1.count() == 30  # gated rows eligible at batch 1 (still capped)


def test_robots_disallow_prefix(spark):
    pending = _pending(spark, 100, n_hosts=1)
    hosts = _hosts(spark, ["www.h0.example"], budget=1000, disallow=["/p/1"])
    got = [r["url"] for r in schedule(pending, hosts, 1).collect()]
    assert got and all("/p/1" not in u.split(".example")[1][:4] for u in got)
    # /p/1, /p/10..19 all blocked by the prefix rule
    assert not any(u.split("/p/")[1].startswith("1") for u in got)


def test_enrich_frontier_merges_unseen_only(spark, tmp_path):
    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, enrich_frontier, run_crawl
    from crawlspark.sources.archive import archive_seed_frame
    from crawlspark.tables import SnapshotCatalog

    wh = str(tmp_path / "wh")
    cfg = CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=0.1),
                      max_batches=4, budget_override=15)
    run_crawl(spark, cfg)
    cat = SnapshotCatalog(spark, wh)
    seen_before = {r["url"] for r in cat.read("urlseen").collect()}

    seeds = archive_seed_frame(spark, "singapore", n=25)
    enrich_frontier(spark, cfg, seeds)
    seen_after = {r["url"] for r in cat.read("urlseen").collect()}
    seed_urls = {r["url"] for r in seeds.collect()}
    assert seen_after == seen_before | seed_urls
    # enriching again adds nothing (all seen now)
    enrich_frontier(spark, cfg, seeds)
    assert {r["url"] for r in cat.read("urlseen").collect()} == seen_after
    # and the crawl can continue from the enriched frontier
    summary = run_crawl(spark, CrawlConfig(warehouse=wh, spec=cfg.spec,
                                           max_batches=8, budget_override=15), resume=True)
    assert summary["n_progress"] > 0


def test_host_yield_scores_and_global_cap(spark):
    """host_yield_scores: integer docs-per-fetch permille with the
    optimistic prior for unseen hosts; cap_global_batch: admits the
    top-cap rows by (yield, priority, url) and plans the cut as
    TakeOrderedAndProject (a top-k heap, never a global sort)."""
    from crawlspark.operators.scheduler import (cap_global_batch,
                                                host_yield_scores)

    metrics = spark.createDataFrame(
        # a: 4 docs / 2 ok = 2000 permille; b: 1 doc / 2 ok = 500;
        # d: failed min_evidence (3) times, nothing ok -> scores 0 (a dead
        # host must not outrank measured hosts);
        # e: only an in-flight retry -> no terminal evidence, prior 1000;
        # f: ONE unlucky 404 -> below min_evidence, keeps the prior (a
        # single failure must not zero a host forever under a binding cap)
        [(1, "a", 2, 2, 0, 0, 0, 5, 3, 10), (2, "a", 1, 0, 0, 0, 0, 0, 1, 5),
         (1, "b", 2, 2, 0, 0, 0, 4, 1, 9),
         (1, "d", 3, 0, 0, 3, 0, 0, 0, 9),
         (1, "e", 1, 0, 1, 0, 0, 0, 0, 3),
         (1, "f", 1, 0, 0, 1, 0, 0, 0, 2)],
        schema=("batch_id int, host string, n_scheduled long, n_ok long, "
                "n_retry long, n_failed long, n_skipped long, "
                "n_links_out long, n_docs_out long, sum_elapsed_ms long"),
    )
    scores = {r["host"]: r["yield_permille"]
              for r in host_yield_scores(metrics).collect()}
    assert scores == {"a": 2000, "b": 500, "d": 0, "e": 1000, "f": 1000}

    sched = spark.createDataFrame(
        [("https://a/1", "a", 5.0), ("https://a/2", "a", 9.0),
         ("https://b/1", "b", 99.0), ("https://b/2", "b", 99.0),
         ("https://c/1", "c", 0.0)],
        "url string, host string, priority double",
    )
    out = cap_global_batch(sched, host_yield_scores(metrics), cap=3)
    # a (2000) fills first — priority DESC within the host — then the
    # history-less c at the 1000 prior; b (500) is cut despite priority 99
    assert [r["url"] for r in out.collect()] == [
        "https://a/2", "https://a/1", "https://c/1"]
    assert {f.name for f in out.schema.fields} == {"url", "host", "priority"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_global_cap_aging_prevents_starvation(spark):
    """With age_bonus_permille, a low-yield host's long-waiting row
    out-ranks a high-yield host's fresh rows once its accumulated bonus
    crosses the yield gap — the aged-priority-queue guarantee; with the
    default bonus 0 it stays starved."""
    from crawlspark.operators.scheduler import (cap_global_batch,
                                                host_yield_scores)

    metrics = spark.createDataFrame(
        [(1, "a", 2, 2, 0, 0, 0, 5, 4, 10),   # a: 2000 permille
         (1, "b", 2, 2, 0, 0, 0, 4, 1, 9)],   # b: 500 permille
        schema=("batch_id int, host string, n_scheduled long, n_ok long, "
                "n_retry long, n_failed long, n_skipped long, "
                "n_links_out long, n_docs_out long, sum_elapsed_ms long"),
    )
    sched = spark.createDataFrame(
        # b's row has waited since batch 1; a's rows are fresh at batch 9
        [("https://a/1", "a", 1.0, 9), ("https://a/2", "a", 1.0, 9),
         ("https://b/old", "b", 1.0, 1)],
        "url string, host string, priority double, discovered_batch int",
    )
    scores = host_yield_scores(metrics)
    starved = cap_global_batch(sched, scores, cap=2)
    assert {r["url"] for r in starved.collect()} == {
        "https://a/1", "https://a/2"}
    aged = cap_global_batch(sched, scores, cap=2,
                            age_bonus_permille=200, batch_id=9)
    # b/old: 500 + 200*8 = 2100 > a's 2000 — admitted ahead of one a row
    assert {r["url"] for r in aged.collect()} == {
        "https://a/1", "https://b/old"}


def test_trap_cap_semantics(spark):
    """cap_template_explosion keeps at most `cap` URLs per (host,
    digit-normalized template), choosing the lexicographically-lowest
    URLs (deterministic winners), and never drops below-cap templates."""
    from crawlspark.operators.scheduler import cap_template_explosion

    rows = (
        # calendar trap on a: 5 urls, one template
        [(f"https://a.example/cal/2020/{i}/day", "a.example") for i in range(5)]
        # two distinct templates on a, one url each
        + [("https://a.example/about", "a.example"),
           ("https://a.example/tags/news", "a.example")]
        # same template on b — independent budget
        + [(f"https://b.example/cal/2021/{i}/day", "b.example") for i in range(3)]
    )
    cand = spark.createDataFrame(rows, "url string, host string")
    out = cap_template_explosion(cand, cap=2).collect()
    got = sorted(r["url"] for r in out)
    assert got == sorted(
        [
            "https://a.example/cal/2020/0/day",  # lowest 2 of the 5
            "https://a.example/cal/2020/1/day",
            "https://a.example/about",
            "https://a.example/tags/news",
            "https://b.example/cal/2021/0/day",
            "https://b.example/cal/2021/1/day",
        ]
    )
    # schema passes through unchanged (no helper columns leak)
    assert {f.name for f in cand.schema.fields} == {
        f.name for f in cap_template_explosion(cand, 2).schema.fields
    }
