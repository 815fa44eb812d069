"""Benchmark workloads: crawl throughput, frontier-dedup ops/sec, fetch+
parse pipeline pages/sec — the BASELINE.json headline metrics.

All inputs are generated deterministically on executors (no driver
materialization), so the same code paths scale from the sandbox sizes to
the 10^10-URL frontier by raising the row counts.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from crawlspark import synthetic
from crawlspark.operators.bloom import new_seen_state
from crawlspark.operators.pipeline import docs_from_pipe, fetch_parse_stage
from crawlspark.operators.urlseen import probe_unseen


def bench_dedup(spark: SparkSession, n_candidates: int = 1_000_000, n_seen: int = 200_000,
                buckets: int = 64, bits: int = 1 << 18, partitioned: bool = False) -> dict:
    """Frontier-dedup ops/sec: Bloom probe + exact anti-join fallback over
    a pre-seeded seen set.  ``partitioned=True`` uses the per-bucket-store
    layout (the >broadcast-scale one, probed co-partitioned) instead of the
    broadcast one."""
    import tempfile

    from crawlspark.operators.urlseen import bloom_delta

    seen = new_seen_state(buckets, bits, tempfile.mkdtemp(prefix="benchbkt-"),
                          partitioned=partitioned)
    seen_df = spark.range(n_seen).select(
        F.concat(F.lit("https://www.h"), (F.col("id") % 1000).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("url")
    ).persist()
    seen.merge(bloom_delta(spark, seen_df, seen))
    # candidates: 20% re-discoveries of seen URLs (they become Bloom
    # positives and exercise the exact-join fallback), 80% fresh (the
    # Bloom-negative fast path that skips the join entirely)
    cand = spark.range(n_candidates).select(
        F.when(
            F.col("id") % 5 == 0,
            F.concat(F.lit("https://www.h"), (F.col("id") % 1000).cast("string"),
                     F.lit(".example/p/"), (F.col("id") % n_seen).cast("string")),
        ).otherwise(
            F.concat(F.lit("https://www.new"), (F.col("id") % 1000).cast("string"),
                     F.lit(".example/q/"), F.col("id").cast("string")),
        ).alias("url")
    )
    t0 = time.time()
    n_fresh = probe_unseen(spark, cand, seen_df, seen).count()
    dt = time.time() - t0
    return {"sec": dt, "ops_per_sec": n_candidates / dt, "n_fresh": n_fresh}


def bench_fetch_parse(spark: SparkSession, n_pages: int = 20_000,
                      decode: bool = True) -> dict:
    """pages/sec through the fetch→parse→clean pipeline (the crawl's
    throughput-bound stages; politeness-free so it saturates all cores).

    ``decode=False`` serves plain (never gzip) transfer bodies, so the
    pipeline number isolates fetch+parse+clean from the S9 transfer-decode
    + cache-hashing work added in round 2 — the round-over-round
    comparability toggle (r01 measured without decoding, r02+ with)."""
    spec = synthetic.WebSpec(scale=5.0)
    hosts = sorted(spec.hosts)
    n_h = len(hosts)
    host = F.element_at(F.array(*[F.lit(h) for h in hosts]), (F.col("id") % n_h + 1).cast("int"))
    n_art = min(c["n_articles"] for c in spec.hosts.values())
    frontier = spark.range(n_pages).select(
        F.concat(F.lit("https://"), host, F.lit("/news/"),
                 (F.col("id") % n_art).cast("string"), F.lit("-s"),
                 ((F.col("id") % n_art) % 7).cast("string")).alias("url"),
        F.xxhash64("id").alias("url_hash"),
        host.alias("host"),
        F.lit(1).alias("depth"),
        F.lit(0.0).alias("priority"),
        F.lit(0).alias("discovered_batch"),
        F.lit(0).alias("retry_count"),
        F.lit(0).alias("not_before_batch"),
        F.lit("article").alias("page_kind"),
        F.lit(None).cast("struct<title:string,date:string,article_url:string>").alias("meta"),
    )
    fetch_fn = None
    if not decode:
        def fetch_fn(url, attempt):  # plain transfer: no gzip on the wire
            status, final, body, elapsed = synthetic.fetch(spec, url, attempt)
            return status, final, (body or "").encode("utf-8"), None, elapsed
    t0 = time.time()
    pipe = fetch_parse_stage(frontier, spec, fetch_fn=fetch_fn)
    docs = docs_from_pipe(pipe.filter(F.col("rec") == "doc"), 0)
    n_docs = docs.count()
    dt = time.time() - t0
    return {"sec": dt, "pages_per_sec": n_pages / dt, "n_docs": n_docs}


def bench_crawl(spark: SparkSession, warehouse: str, scale: float = 0.5) -> dict:
    """Full micro-batch crawl (scheduling + dedup + commits included)."""
    from crawlspark.crawl import CrawlConfig, run_crawl

    t0 = time.time()
    summary = run_crawl(
        spark,
        CrawlConfig(warehouse=warehouse, spec=synthetic.WebSpec(scale=scale),
                    max_batches=50, compact_every=8),
    )
    dt = time.time() - t0
    return {
        "sec": dt,
        "pages_per_sec": summary["n_progress"] / dt,
        "n_fetched": summary["n_progress"],
        "n_docs": summary["n_documents"],
        "batches": summary["batches"],
    }


def bench_crawl_batch(spark: SparkSession, warehouse: str, scale: float = 40.0,
                      budget: int = 100_000) -> dict:
    """One WIDE micro-batch through the complete machinery (schedule →
    fused fetch+parse+clean → link dedup → docs → metrics → snapshot
    commit): the crawl's pages/sec when politeness isn't the binding
    constraint — i.e. the per-batch throughput a many-host frontier gets."""
    import crawlspark.crawl as C
    from crawlspark.tables import SnapshotCatalog

    spec = synthetic.WebSpec(scale=scale)
    cfg = C.CrawlConfig(warehouse=warehouse, spec=spec, budget_override=budget,
                        expected_urls=1_000_000)
    catalog = SnapshotCatalog(spark, warehouse)
    manifest = C.init_crawl(spark, cfg)

    # preload the frontier with every article URL of the synthetic web
    hosts = sorted(spec.hosts)
    parts = []
    for h in hosts:
        n_art = spec.hosts[h]["n_articles"]
        parts.append(
            spark.range(n_art).select(
                F.concat(F.lit(f"https://{h}/news/"), F.col("id").cast("string"),
                         F.lit("-s"), (F.col("id") % 7).cast("string")).alias("url"),
                F.lit(h).alias("host"),
            )
        )
    urls = parts[0]
    for p in parts[1:]:
        urls = urls.unionByName(p)
    frontier = urls.select(
        "url", F.xxhash64("url").alias("url_hash"), "host",
        F.lit(1).alias("depth"), F.lit(0.0).alias("priority"),
        F.lit(0).alias("discovered_batch"), F.lit(0).alias("retry_count"),
        F.lit(1).alias("not_before_batch"), F.lit("article").alias("page_kind"),
        F.lit(None).cast("struct<title:string,date:string,article_url:string>").alias("meta"),
    )
    # merge the preloaded URLs into the Bloom filter BEFORE committing, to
    # keep the bloom ⊇ urlseen invariant probe_unseen's negative fast path
    # relies on (same pattern as init_crawl / enrich_frontier)
    from crawlspark.operators.urlseen import bloom_delta

    bloom = catalog.load_bloom(manifest)
    bloom.merge(bloom_delta(spark, frontier, bloom))
    catalog.commit(0, appends={"frontier": frontier,
                               "urlseen": frontier.select("url", "url_hash", F.lit(0).alias("added_batch"))},
                   bloom=bloom, state=manifest["state"])
    manifest = catalog.latest()

    t0 = time.time()
    new_m = C.run_batch(spark, catalog, cfg, manifest)
    dt = time.time() - t0
    n = catalog.read("progress", new_m).count()
    n_docs = catalog.read("documents", new_m).count()
    return {"sec": dt, "pages_per_sec": n / dt, "n_fetched": n, "n_docs": n_docs}
