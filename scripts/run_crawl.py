"""spark-submit entry point for the crawl engine.

Cluster:
    zip -r crawlspark.zip crawlspark
    spark-submit --py-files crawlspark.zip scripts/run_crawl.py \
        --warehouse /data/crawl-wh --scale 1.0 --max-batches 100

Local sandbox:
    python scripts/run_crawl.py --warehouse /tmp/wh --scale 0.25

The driver loop, politeness, dedup and snapshot commits are identical in
both modes; on a cluster only the session master/memory come from
spark-submit instead of the local defaults.
"""

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--scale", type=float, default=0.25)
    ap.add_argument("--max-batches", type=int, default=64)
    ap.add_argument("--max-depth", type=int, default=64)
    ap.add_argument("--budget", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--resume-from-snapshot", type=int, default=None,
                    metavar="S",
                    help="time-travel resume: roll back to retained "
                         "snapshot S and replay from there (abandoned "
                         "snapshots stay readable until expiry)")
    ap.add_argument("--seed-file", default=None)
    ap.add_argument("--compact-every", type=int, default=8)
    ap.add_argument("--expected-urls", type=int, default=None,
                    help="auto-size the Bloom filter (switches to the "
                         "partitioned per-bucket layout past the broadcast cap)")
    ap.add_argument("--bloom-partitioned", action="store_true",
                    help="force the partitioned Bloom layout")
    ap.add_argument("--recrawl", action="store_true",
                    help="start a new epoch retaining documents + fetch "
                         "cache; articles already fetched are served from "
                         "the cache log")
    ap.add_argument("--cache-max-age", type=int, default=None, metavar="N",
                    help="with --recrawl: refetch cache entries older than "
                         "N commits (HTTPCACHE_EXPIRATION_SECS analog); "
                         "default serves cached articles forever")
    ap.add_argument("--bloom-target-fpr", type=float, default=0.01,
                    help="design FPR for the capacity auto-guard: past 10x "
                         "this, compaction doubles the bucket count")
    ap.add_argument("--targeted", action="store_true",
                    help="targeted pagination (SEARCH_ENTIRE_WEBSITE=0 "
                         "analog): follow only per-domain next-page "
                         "anchors instead of every link")
    ap.add_argument("--use-sitemaps", action="store_true",
                    help="enqueue robots-declared sitemap URLs as "
                         "high-priority seeds")
    ap.add_argument("--use-feeds", action="store_true",
                    help="follow listing-head RSS/Atom autodiscovery "
                         "links; feed entries join the frontier with "
                         "feed-declared title/date meta")
    ap.add_argument("--strip-tracking", action="store_true",
                    help="strip utm_/click-id params (and sort survivors) "
                         "on every seed and link before the seen-set probe")
    ap.add_argument("--obey-meta-robots", action="store_true",
                    help="honor <meta name=robots>: noindex drops the doc, "
                         "nofollow drops the page's links")
    ap.add_argument("--obey-link-rel", action="store_true",
                    help="honor per-anchor rel=nofollow/sponsored/ugc on "
                         "the generic link walk (listing cards exempt)")
    ap.add_argument("--use-canonical-link", action="store_true",
                    help="key documents by <link rel=canonical> instead of "
                         "the fetch URL (URL aliases collapse)")
    ap.add_argument("--revalidate-stale", action="store_true",
                    help="conditional revalidation (HTTP 304 analog): a "
                         "stale cached article whose refetched body hash "
                         "is unchanged retires 'revalidated' and renews "
                         "its cache entry instead of re-entering parse "
                         "(requires --recrawl + --cache-max-age)")
    ap.add_argument("--autothrottle", action="store_true",
                    help="latency-adaptive per-host budgets (AutoThrottle "
                         "analog): cautious first contact at "
                         "rules.AUTOTHROTTLE_START_DELAY_MS, then budget = "
                         "rules.BATCH_PERIOD_S // folded delay, floored at "
                         "robots crawl-delay and capped at "
                         "rules.AUTOTHROTTLE_MAX_DELAY_MS")
    ap.add_argument("--failure-trip-threshold", type=int, default=None,
                    metavar="N",
                    help="circuit breaker: stop scheduling a host after N "
                         "active batches with zero successful fetches")
    ap.add_argument("--failure-trip-cooldown", type=int, default=4,
                    metavar="B",
                    help="batches a tripped host sits out before one "
                         "half-open probe batch (default 4)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from crawlspark import synthetic
    from crawlspark.crawl import CrawlConfig, run_crawl

    # under spark-submit an active session/config already exists; getOrCreate
    # attaches to it, otherwise crawlspark.session defaults apply
    builder = SparkSession.builder.appName("crawlspark")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = CrawlConfig(
        warehouse=args.warehouse,
        spec=synthetic.WebSpec(scale=args.scale, feeds=args.use_feeds),
        max_batches=args.max_batches,
        max_depth=args.max_depth,
        budget_override=args.budget,
        compact_every=args.compact_every,
        seed_file=args.seed_file,
        expected_urls=args.expected_urls,
        bloom_partitioned=args.bloom_partitioned,
        use_fetch_cache=args.recrawl,
        fetch_cache_max_age_snaps=args.cache_max_age,
        revalidate_stale=args.revalidate_stale,
        bloom_target_fpr=args.bloom_target_fpr,
        search_entire_site=not args.targeted,
        use_sitemaps=args.use_sitemaps,
        use_feeds=args.use_feeds,
        strip_tracking=args.strip_tracking,
        obey_meta_robots=args.obey_meta_robots,
        obey_link_rel=args.obey_link_rel,
        use_canonical_link=args.use_canonical_link,
        autothrottle=args.autothrottle,
        failure_trip_threshold=args.failure_trip_threshold,
        failure_trip_cooldown_batches=args.failure_trip_cooldown,
    )
    if args.recrawl:
        from crawlspark.crawl import reset_for_recrawl

        reset_for_recrawl(spark, cfg)
        summary = run_crawl(spark, cfg, resume=True)
    else:
        summary = run_crawl(spark, cfg, resume=args.resume,
                            resume_from_snapshot=args.resume_from_snapshot)
    summary.pop("manifest", None)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
