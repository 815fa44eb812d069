"""The iterative micro-batch crawl loop (SURVEY.md §2.9, §3).

Replaces the reference's Scrapy engine (callback graph + scheduler +
dupefilter) with a driver loop of pure DataFrame jobs:

    while pending:  read frontier → politeness top-K → fetch → parse
                    → links: canonicalize → skip-filter → Bloom/exact dedup
                    → docs:  clean spans → date/keyword filters
                    → atomic multi-table snapshot commit

Determinism: scheduling order is (priority DESC, url ASC) per host per
batch; all other stages are set-semantics — so the final frontier, seen
set, progress (crawl order at batch granularity) and documents tables are
identical at any parallelism (local[8] ≡ local[32] ≡ N ≡ 4N executors),
which the pytest oracle comparison asserts.
"""

from __future__ import annotations

import os
import time as _time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlspark import rules, schemas, synthetic
from crawlspark.functions import urls as U
from crawlspark.operators import scheduler
from crawlspark.operators.bloom import new_seen_state
from crawlspark.operators.pipeline import docs_from_pipe, fetch_parse_stage
from crawlspark.operators.urlseen import bloom_delta, probe_unseen
from crawlspark.tables import SnapshotCatalog


@dataclass
class CrawlConfig:
    warehouse: str
    spec: synthetic.WebSpec = field(default_factory=synthetic.WebSpec)
    max_batches: int = 64
    max_depth: int = 64
    bloom_buckets: int = 32
    bloom_bits: int = 1 << 20
    compact_every: int = 8
    keep_snapshots: int = 0  # >0: expire_snapshots(keep_last=N) after compaction
    expected_urls: int | None = None  # auto-size the Bloom for this key count
    budget_override: int | None = None  # tests: force small per-host budgets
    # Bloom state layout of a new crawl: chosen by size (partitioned once
    # the configured state exceeds bloom.BROADCAST_CAP_BYTES — the
    # 10^10-key regime); True forces the partitioned layout (tests force
    # it to run e2e equality on it).  A resumed crawl keeps its manifest's
    # layout.
    bloom_partitioned: bool = False
    # serve previously-fetched articles from the fetched-cache log instead
    # of refetching (re-crawl mode; see reset_for_recrawl)
    use_fetch_cache: bool = False
    # cache staleness (reference HTTPCACHE_EXPIRATION_SECS, settings.py:85):
    # a cache entry is served only while (current_snap - entry.snap_id) <=
    # max_age; None = serve forever.  Snapshot ids are the global monotone
    # commit clock (per-epoch batch ids reset on recrawl; snapshots don't),
    # and at one commit per batch, N snapshots ≈ N batches of age.
    fetch_cache_max_age_snaps: int | None = None
    # adaptive per-URL cache freshness (operators/freshness.py): serve an
    # article from cache while its adaptive interval — base * 2^streak of
    # unchanged observations, capped — has not elapsed on the snapshot
    # clock.  Overrides the fixed fetch_cache_max_age_snaps window; pages
    # that keep changing refetch at the base interval, pages that never
    # change back off exponentially.  The state is a url-keyed window +
    # aggregate over the fetched log per scheduling batch; at 10^10 URLs
    # materialize it once per epoch (or at compaction) instead — the
    # filter shape is identical.
    fetch_cache_adaptive: bool = False
    adaptive_base_snaps: int = 2
    # conditional revalidation of STALE cache entries (the HTTP 304 /
    # RFC 7232 If-None-Match analog, over the fetched log's decoded-body
    # hash): a scheduled article whose cache entry has expired is still
    # fetched — a conditional GET spends a politeness slot like any
    # request — but when the fresh body hash equals the LATEST logged
    # hash the row retires with a terminal 'revalidated' record instead
    # of re-entering the parse stage (no doc/link rows — same downstream
    # contract as 'cached'), and its fetch-log append renews the entry's
    # snap_id so the freshness window (fixed or adaptive) restarts.
    # Requires use_fetch_cache; inert on a first crawl (empty log), when
    # every entry is fresh (served from cache before scheduling), or
    # when the response redirected (a real 304 cannot redirect).
    revalidate_stale: bool = False
    # Bloom capacity auto-guard (either layout): when the worst bucket's
    # theoretical FPR exceeds 10x the design target, the next compaction
    # rebuilds the filter at DOUBLE the bucket count from the exact seen
    # set (urlseen — rebuild, because Bloom bits cannot be split).  Rare
    # and exponentially spaced: each doubling halves per-bucket load, so
    # total rebuild work over a crawl's lifetime is O(final seen set),
    # amortized O(1) bits per key.
    bloom_target_fpr: float = 0.01
    # reference SEARCH_ENTIRE_WEBSITE (:34, default 1): True follows every
    # anchor; False = targeted pagination — domains with a next_page_text
    # rule follow only their "Next Page"-style anchor (:751-758), others
    # extract every anchor in both modes
    search_entire_site: bool = True
    # spider-trap admission guard (scheduler.cap_template_explosion): at
    # most N candidate URLs per (host, digit-normalized path template) are
    # admitted to the frontier per batch; None (default) disables the
    # guard and leaves every plan untouched.  The reference's fixed seed
    # lists can't hit traps; an open frontier can, and this bounds any
    # single template's growth to cap x n_batches.  Winners are
    # deterministic (lowest URL), preserving crawl-order equality.
    trap_template_cap: int | None = None
    # global fetch-capacity cap (scheduler.cap_global_batch): at most N
    # pages admitted per batch ACROSS hosts, slots spent highest-yield
    # hosts first (docs-per-fetch from the metrics table; unseen hosts get
    # the optimistic prior so discovery is never starved).  None (default)
    # = politeness budgets alone bound the batch, plans untouched.
    global_batch_cap: int | None = None
    # anti-starvation aging under the global cap: each batch a row waits
    # adds this much to its effective yield score (0 = pure yield order)
    yield_age_bonus_permille: int = 0
    # sitemap seed discovery: at crawl init (and recrawl reset) each seed
    # host's robots.txt `Sitemap:` directives enqueue the sitemap URLs as
    # high-priority frontier rows; the parse stage turns their <urlset>
    # bodies into article/listing links — reaching ORPHAN pages no listing
    # links to.  Default off: the reference has no sitemap path, and the
    # oracle-equality e2e contract is defined without it.
    use_sitemaps: bool = False
    # RSS/Atom feed intake: listing heads' autodiscovery
    # <link type="application/rss+xml|atom+xml"> tags enqueue the host's
    # feed as a fetch-and-extract frontier row; feed entries become
    # article links carrying feed-declared meta (title + published date,
    # the same fallback chain listing cards provide) — reaching ORPHAN
    # pages no listing links to, fresher than sitemaps on news hosts.
    # Default off: the reference has no feed path, and the oracle-equality
    # e2e contract is defined without it.
    use_feeds: bool = False
    # strip analytics/click-id query params (utm_*, gclid, ...) and sort
    # the survivors on every canonicalized link AND seed, BEFORE the
    # seen-set probe — collapses tracking-param variants of one page into
    # a single frontier key.  Default off: the reference's fix_url chain
    # keeps them, and the oracle-equality contract pins that chain.
    strip_tracking: bool = False
    # honor <meta name="robots"> page directives (noindex: drop the doc,
    # nofollow: drop the page's links).  Default off: the reference's
    # Scrapy stack doesn't honor robots META, and the oracle-equality
    # contract is defined without it.
    obey_meta_robots: bool = False
    # honor per-ANCHOR rel=nofollow/sponsored/ugc on the generic link
    # walk (html_parse.rel_blocked_hrefs): hrefs carried only by
    # rel-blocked anchors never reach the frontier.  Listing cards (the
    # site's curated article surface) are exempt.  Default off: the
    # reference follows every anchor, and the oracle-equality contract
    # pins that.
    obey_link_rel: bool = False
    # key each document by its <link rel="canonical"> href (after the
    # same canonicalize chain links get) instead of the fetch URL, so URL
    # aliases of one article collapse to a single doc_id via the existing
    # in-batch + cross-batch doc_id dedup.  Default off (the reference
    # keys docs by fetch URL).
    use_canonical_link: bool = False
    # AutoThrottle (reference settings scaffold settings.py:71-80, at
    # batch granularity): per-host fetch budget adapts to OBSERVED
    # latency — delay folds toward the mean latency each batch, clamped
    # between the robots crawl-delay (politeness floor: never faster than
    # robots) and rules.AUTOTHROTTLE_MAX_DELAY_MS; budget = period // delay.
    # First contact is cautious (rules.AUTOTHROTTLE_START_DELAY_MS), then
    # fast hosts speed up.
    # Ignored while budget_override is set (the test sizing knob wins).
    autothrottle: bool = False
    # per-host circuit breaker (scheduler.breaker_blocked_hosts): a host
    # whose last N ACTIVE batches produced zero successful fetches stops
    # being scheduled for `cooldown` batches, then re-admits for one probe
    # batch (half-open).  Politeness bounds how fast a host is fetched;
    # this stops a DEAD host (down, walled, partitioned) from burning its
    # politeness-bounded slots every batch.  The only state is the metrics
    # log, so the breaker is resume-safe by construction.  None = off,
    # every plan untouched.
    failure_trip_threshold: int | None = None
    failure_trip_cooldown_batches: int = 4
    # Seed overrides (reference S1: hard-coded lists + manual_scrape.txt
    # file seeds :276-295; TEST_SPECIFIC targeted mode :219-295 = article
    # seeds + max_depth=0):
    seed_urls: list[str] | None = None
    seed_file: str | None = None

    def __post_init__(self):
        if self.expected_urls:
            # design math: ~14.4 bits/key ≈ 0.1% FPR at k=7; buckets sized
            # so each blob stays well under an executor's working set
            total_bits = self.expected_urls * 15
            buckets = 32
            while total_bits // buckets > (1 << 26):  # ≤ 8 MB per bucket
                buckets *= 2
            bits = 1 << max(14, (total_bits // buckets).bit_length())
            self.bloom_buckets = buckets
            self.bloom_bits = bits


def _hosts_frame(hosts_df: DataFrame) -> DataFrame:
    """New-host frame → HOSTS politeness rows (robots.txt fetch+parse per
    host).  The robots acquisition runs EXECUTOR-side via mapInPandas —
    the per-row loop inside the generator IS the fetch work, per-host by
    nature, same justification as the fused fetch stage — so no host list
    is ever collected to the driver and a 10^5+-host seed bootstrap is one
    distributed job (the reference fetches robots once per host on first
    contact; ROBOTSTXT_OBEY settings.py:20)."""

    def gen(batches):
        cols = ["host", "crawl_delay_s", "budget_per_batch",
                "robots_disallow", "robots_allow"]
        for pdf in batches:
            recs = []
            for h in pdf["host"]:
                s = synthetic.robots_for_host(h)
                recs.append(
                    (h, float(s["crawl_delay_s"]), int(s["budget_per_batch"]),
                     list(s["disallow"]), list(s.get("allow") or []))
                )
            yield pd.DataFrame(recs, columns=cols)

    return hosts_df.select("host").distinct().mapInPandas(gen, schema=schemas.HOSTS)


# The batch's batch-invariant expressions as SQL text, built once at
# import; the per-batch values (batch id, snapshot id, max depth) go in as
# integer literals where they are used.
_IS_FETCH = f"rec = {U.sql_lit('fetch')}"
_IS_LINK = f"rec = {U.sql_lit('link')}"
_IS_DOC = f"rec = {U.sql_lit('doc')}"
_IS_RETRY = f"outcome = {U.sql_lit('retry')}"
# 'revalidated' (cfg.revalidate_stale: 304-analog conditional refetch) is
# a healthy response: it counts as ok for the circuit breaker and
# autothrottle, exactly like 'done', and passes the fetch-log gate —
# logging it is the cache RENEWAL (new snap_id, same hash), which restarts
# the staleness window and extends the adaptive unchanged-streak
_IS_OK = f"outcome IN ({U.sql_list(('done', 'revalidated'))})"

# fetch row → progress outcome (done | retry | failed | skipped | revalidated)
_OUTCOME = (
    "CASE"
    # corrupt transfer stream (gzip decode failure) retries like a 5xx
    # (reference GzipRetryMiddleware, middlewares.py:36-52)
    f" WHEN status = 200 AND decode_error AND retry_count < {U.sql_lit(rules.MAX_RETRIES)}"
    f" THEN {U.sql_lit('retry')}"
    f" WHEN status = 200 AND decode_error THEN {U.sql_lit('failed')}"
    # in-worker 304 verdict (cfg.revalidate_stale): a clean 200 whose body
    # hash matched the logged cache entry — terminal, unparsed
    f" WHEN status = 200 AND coalesce(revalidated, false) THEN {U.sql_lit('revalidated')}"
    f" WHEN status = 200 THEN {U.sql_lit('done')}"
    f" WHEN status IN ({U.sql_list(rules.SKIP_STATUSES)}) THEN {U.sql_lit('skipped')}"
    f" WHEN status IN ({U.sql_list(rules.RETRYABLE_STATUSES)})"
    f" AND retry_count < {U.sql_lit(rules.MAX_RETRIES)} THEN {U.sql_lit('retry')}"
    f" ELSE {U.sql_lit('failed')} END AS outcome"
)

_LINKS = [
    *("url AS src_url" if f.name == "url" else f.name for f in schemas.PARSED.fields),
    f"{U.host_sql('link')} AS link_host",
]
_LINK_DOMAIN = f"{U.domain_sql('link_host')} AS link_domain"
_LINK_KEEP = f"NOT {U.skip_filter_sql('link', 'link_domain')}"
# in-batch dedup with a deterministic meta winner (min source url)
_CAND_WINNER = "min_by(struct(link_host, depth, link_kind, meta), struct(src_url, link)) AS w"
_CAND = ["url", "w.link_host AS host", "w.depth + 1 AS depth",
         "w.link_kind AS page_kind", "w.meta AS meta"]

_METRICS_AGGS = [
    "count(*) AS n_scheduled",
    f"sum(CAST({_IS_OK} AS BIGINT)) AS n_ok",
    *(f"sum(CAST(outcome = {U.sql_lit(o)} AS BIGINT)) AS n_{o}"
      for o in ("retry", "failed", "skipped")),
    "sum(elapsed_ms) AS sum_elapsed_ms",
]
_PARSED_AGGS = [
    f"sum(CASE WHEN rec = {U.sql_lit(r)} THEN 1 ELSE 0 END) AS n_{r}s_out"
    for r in ("link", "doc")
]
_METRICS = ["host", "n_scheduled", "n_ok", "n_retry", "n_failed", "n_skipped",
            "coalesce(n_links_out, 0) AS n_links_out",
            "coalesce(n_docs_out, 0) AS n_docs_out", "sum_elapsed_ms"]


def _hosts_with_rx(hosts: DataFrame, budget_override: int | None) -> DataFrame:
    """hosts table + precompiled robots regex, computed executor-side via a
    vectorized pandas UDF — no driver collect, so the hosts dimension can
    grow to web scale (it is only ever broadcast into the schedule join)."""

    @F.pandas_udf("string")
    def rx_udf(dis: pd.Series, alw: pd.Series) -> pd.Series:
        return pd.Series(
            [
                scheduler.robots_rx_py(
                    list(d) if d is not None else None,
                    list(a) if a is not None else None,
                )
                for d, a in zip(dis.tolist(), alw.tolist())
            ],
            dtype=object,
        )

    out = hosts.withColumn(
        "robots_rx",
        rx_udf("robots_disallow",
               # pre-round-5 hosts rows lack robots_allow entirely when the
               # table was written before the column existed; the schema
               # read nulls it and the compiler treats null as no overrides
               F.col("robots_allow") if "robots_allow" in hosts.columns
               else F.lit(None).cast("array<string>")),
    )
    if budget_override:
        out = out.withColumn("budget_per_batch", F.lit(int(budget_override)))
    return out


def _seed_row_py(u: str, strip_tracking: bool = False):
    """One raw seed line -> FRONTIER tuple (url_hash placeholder 0), or
    None when the canonicalized URL fails the skip filter.  Shared by the
    driver path (literal seed lists) and the distributed file path so the
    two can never drift."""
    cu = U.fix_url_py(u)
    if strip_tracking:
        cu = U.strip_tracking_params_py(cu)
    if U.should_skip_py(cu):
        return None
    kind, _, _ = synthetic.classify_url(cu)
    kind = U.link_kind_py(kind)  # sitemap/listing preserved, rest article
    host = U.host_of_py(cu)
    return (cu, 0, host, 0, scheduler.priority_py(0, kind, cu), 0, 0, 0, kind, None)


def _seed_file_frame(spark: SparkSession, path: str,
                     strip_tracking: bool = False) -> DataFrame:
    """Distributed seed-file intake (reference manual_scrape.txt,
    :276-295): spark.read.text -> canonicalize/skip/classify inside an
    Arrow-batched mapInPandas.  The reference's file is dozens of lines,
    but the realistic way a 100-TB crawl starts is a 10^6-10^8-URL seed
    dump — nothing here touches the driver, so the path scales with
    executors (the old form collected the file and canonicalized in a
    driver loop)."""
    cols = [f.name for f in schemas.FRONTIER.fields]

    def gen(batches):
        for pdf in batches:
            recs = [r for r in (_seed_row_py(u, strip_tracking) for u in pdf["value"]) if r is not None]
            yield pd.DataFrame(recs, columns=cols)

    return spark.read.text(path).mapInPandas(gen, schema=schemas.FRONTIER)


def _seed_frontier(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    """Seed rows (reference start_requests :560-699): canonicalize, skip-
    filter, dedup; FRONTIER schema with url_hash.  Literal seed lists stay
    on the driver (they are human-sized); seed FILES run distributed."""
    raw_seeds = (
        list(cfg.seed_urls) if cfg.seed_urls is not None else synthetic.seed_urls(cfg.spec)
    )
    seeds = [r for r in (_seed_row_py(u, cfg.strip_tracking) for u in raw_seeds) if r is not None]
    out = spark.createDataFrame(seeds, schemas.FRONTIER)
    if cfg.seed_file:  # manual_scrape.txt analog (reference :276-295)
        out = out.unionByName(
            _seed_file_frame(spark, cfg.seed_file, cfg.strip_tracking))
    if cfg.use_sitemaps:
        # robots-declared sitemap URLs of the seed hosts join the frontier
        # as extra seeds (distinct url wins below dedups a sitemap URL a
        # seed list might also carry explicitly)
        out = out.unionByName(_sitemap_frontier(out, cfg.strip_tracking))
    # cross-source dedup: every FRONTIER field is a deterministic function
    # of the canonical url, so duplicate rows are identical and any winner
    # equals the old first-occurrence driver loop
    return out.dropDuplicates(["url"]).withColumn("url_hash", F.xxhash64("url"))


def _sitemap_frontier(hosts_src: DataFrame,
                      strip_tracking: bool = False) -> DataFrame:
    """Distinct hosts → FRONTIER rows for their robots-declared sitemap
    URLs (sitemaps.org intake at seed time).  The robots fetch+parse runs
    EXECUTOR-side per host — same distributed shape as _hosts_frame, so a
    10^5-host seed set discovers its sitemaps in one job with no host list
    on the driver.  Sitemap rows ride the normal frontier machinery from
    here: politeness-scheduled, robots-filtered, retried, and their
    <urlset> links dedup through the standard seen-set path."""
    cols = [f.name for f in schemas.FRONTIER.fields]

    def gen(batches):
        for pdf in batches:
            recs = []
            for h in pdf["host"]:
                s = synthetic.robots_for_host(h)
                for sm in s.get("sitemaps", []):
                    # _seed_row_py: same canonicalize/skip/classify as every
                    # other seed source — a URL proposed by BOTH a seed list
                    # and robots discovery yields byte-identical rows, so
                    # the cross-source dropDuplicates winner is well-defined
                    r = _seed_row_py(sm, strip_tracking)
                    if r is not None:
                        recs.append(r)
            yield pd.DataFrame(recs, columns=cols)

    return hosts_src.select("host").distinct().mapInPandas(
        gen, schema=schemas.FRONTIER
    )


def _seed_bloom(spark: SparkSession, cfg: CrawlConfig, catalog: SnapshotCatalog,
                seeds_df: DataFrame):
    """A fresh URL-seen filter in the configured layout, holding the seed
    URLs (written per bucket by the same grouped-map job the loop uses)."""
    seen = new_seen_state(cfg.bloom_buckets, cfg.bloom_bits, catalog.state_dir,
                          partitioned=cfg.bloom_partitioned)
    seen.merge(bloom_delta(spark, seeds_df, seen))
    seen.release()
    return seen


def init_crawl(spark: SparkSession, cfg: CrawlConfig) -> dict:
    """Seed the frontier (reference start_requests :560-699) and commit
    snapshot 0."""
    catalog = SnapshotCatalog(spark, cfg.warehouse)
    seeds_df = _seed_frontier(spark, cfg)
    seen_df = seeds_df.select("url", "url_hash", F.lit(0).alias("added_batch"))
    hosts_df = _hosts_frame(seeds_df)
    appends = {"frontier": seeds_df, "urlseen": seen_df, "hosts": hosts_df}
    return catalog.commit(0, appends=appends, state={},
                          bloom=_seed_bloom(spark, cfg, catalog, seeds_df))


def reset_for_recrawl(spark: SparkSession, cfg: CrawlConfig) -> dict:
    """Begin a NEW crawl epoch in an existing warehouse: frontier, urlseen,
    Bloom state and progress are reset to the seeds; documents, metrics
    and the fetched cache are RETAINED — the reference's HTTPCACHE re-run
    semantics (settings.py:84-89: the dupefilter starts fresh, the HTTP
    cache persists).  With cfg.use_fetch_cache=True the re-crawl refetches
    listings (the link-discovery surface) but serves previously-fetched
    articles from the cache log as terminal 'cached' records.

    The hosts politeness table is REBUILT by re-fetching robots for every
    known + seed host (the reference's Scrapy re-fetches robots.txt every
    run even when the HTTP cache persists) — one distributed job, no host
    list on the driver."""
    catalog = SnapshotCatalog(spark, cfg.warehouse)
    assert catalog.latest() is not None, "reset_for_recrawl needs an existing crawl"
    seeds_df = _seed_frontier(spark, cfg)
    seen_df = seeds_df.select("url", "url_hash", F.lit(0).alias("added_batch"))
    all_hosts = catalog.read("hosts").select("host").unionByName(
        seeds_df.select("host")
    ).distinct()
    replace = {
        "frontier": seeds_df,
        "urlseen": seen_df,
        "progress": catalog._empty("progress"),
        "hosts": _hosts_frame(all_hosts),
    }
    return catalog.commit(
        0,
        appends={},
        replace=replace,
        bloom=_seed_bloom(spark, cfg, catalog, seeds_df),
    )


def _bloom_lineage(bloom) -> dict:
    """Per-snapshot Bloom health lineage: key count + worst-bucket FPR —
    visible in every manifest so capacity drift is observable."""
    return {
        "bloom_keys": bloom.bloom_keys(),
        "bloom_fpr_estimate": round(bloom.fpr_estimate(), 8),
    }


def _pending(catalog: SnapshotCatalog, manifest: dict,
             new_frontier: DataFrame | None = None,
             new_progress: DataFrame | None = None) -> DataFrame:
    """MERGE-style pending set: a frontier row is pending until a progress
    row exists for the same (url, attempt).

    Manifest-level pruning: the compacted frontier base (the replace file
    at snapshot S) already excludes everything fetched through S — only
    progress DELTAS committed after S can retire current frontier rows, so
    the anti-join's right side is those delta files, not the full
    append-only log (which grows with total fetches ever: 10^10-scale).

    ``new_frontier``/``new_progress``: a batch's uncommitted appends, which
    compaction folds in to get the pending set AFTER that batch.
    """
    fpaths = manifest.get("tables", {}).get("frontier", [])
    ppaths = manifest.get("tables", {}).get("progress", [])
    base_snap = min((catalog.snap_of(p) for p in fpaths), default=0)
    recent = [p for p in ppaths if catalog.snap_of(p) > base_snap]
    frontier = catalog.read("frontier", manifest)
    progress = catalog.read_files("progress", recent)
    if new_frontier is not None:
        frontier = frontier.unionByName(new_frontier)
        progress = progress.unionByName(new_progress)
    return frontier.join(
        progress.select("url", F.col("attempt").alias("retry_count")).distinct(),
        on=["url", "retry_count"],
        how="left_anti",
    )


# a candidate host set up to this size is looked up in the hosts table as
# one IN list; a larger one as a broadcast semi-join
_HOSTS_IN_LIST = 1000


def _seen_update(spark: SparkSession, seen, accepted: DataFrame, hosts_tbl: DataFrame,
                 one_batch: bool = False) -> DataFrame | None:
    """Fold the ``accepted`` frontier rows into the URL-seen filter
    ``seen`` and return HOSTS rows (robots fetched) for their hosts that
    the hosts table lacks, or None when there are none.  The host names
    piggyback on the Bloom update's job (in the partitioned layout blob
    bytes never reach the driver); only the tiny name list touches the
    driver, and the robots fetch+parse runs distributed.  The names the
    hosts table already holds come back from one filtered scan of it: a
    batch's few hosts as an IN list, which needs no local relation and no
    join (a driver list on a join's left side plans as a shuffle join)."""
    delta, hosts = bloom_delta(spark, accepted, seen, collect_hosts=True, one_batch=one_batch)
    seen.merge(delta)
    if not hosts:
        return None
    names = sorted(hosts)
    known = hosts_tbl.select("host")
    if len(names) <= _HOSTS_IN_LIST:
        known = known.filter(F.col("host").isin(names))
    else:
        known = known.join(F.broadcast(spark.createDataFrame(pd.DataFrame({"host": names}))),
                           on="host", how="left_semi")
    unknown = sorted(hosts - {r["host"] for r in known.collect()})
    if not unknown:
        return None
    return _hosts_frame(
        spark.createDataFrame([(h,) for h in unknown], "host string")
    ).coalesce(1)


@dataclass
class _Batch:
    """What the phases of one run_batch share."""

    spark: SparkSession
    catalog: SnapshotCatalog
    cfg: CrawlConfig
    manifest: dict
    batch_id: int
    is_compact: bool
    seen: object  # URL-seen filter, any layout; the state update folds the batch in
    prof: dict | None  # phase -> seconds, when CRAWLSPARK_PROF is set
    n_sched: int = 0
    n_retired: int = 0
    pending: DataFrame | None = None
    hosts_tbl: DataFrame | None = None
    trip_hosts: DataFrame | None = None  # hosts behind an open circuit breaker
    scheduled: DataFrame | None = None
    retired: DataFrame | None = None  # progress rows of blocked / cached rows
    revalid_hashes: DataFrame | None = None
    pipe: DataFrame | None = None
    new_frontier: DataFrame | None = None
    cached: list = field(default_factory=list)  # what _release unpersists


def _persist(b: _Batch, df: DataFrame) -> DataFrame:
    """Persist ``df`` until the batch is released."""
    b.cached.append(df.persist())
    return b.cached[-1]


def _phase(b: _Batch, fn, *args):
    """Run one phase of the batch; CRAWLSPARK_PROF records its wall time
    under the phase's name."""
    t0 = _time.perf_counter()
    out = fn(b, *args)
    if b.prof is not None:
        b.prof[fn.__name__.lstrip("_")] = _time.perf_counter() - t0
    return out


def _schedule(b: _Batch) -> None:
    """Pending frontier → politeness top-K ``scheduled`` plus the
    ``retired`` progress rows (robots-blocked and cache-served rows get a
    terminal record so they leave the pending set instead of being
    re-scanned every batch), and both row counts.

    Both come from one persisted relation, and one job counts both, so
    the pending ⋈ hosts plan and its robots-regex UDF run once a batch.
    The capped schedule and the cache hits, which several of the batch's
    jobs read, are persisted as well."""
    cfg, catalog, manifest = b.cfg, b.catalog, b.manifest
    b.pending = _pending(catalog, manifest)
    b.hosts_tbl = catalog.read("hosts", manifest)
    hosts_df = _hosts_with_rx(b.hosts_tbl, cfg.budget_override)
    if cfg.autothrottle and cfg.budget_override is None:
        hosts_df = scheduler.apply_autothrottle(
            hosts_df, catalog.read("metrics", manifest))
    if cfg.failure_trip_threshold is not None:
        # circuit breaker: zero the budget of hosts whose breaker is open
        # (their pending rows stay in the frontier and re-admit when the
        # cooldown passes).  Applied AFTER autothrottle and regardless of
        # budget_override: a dead host's budget is 0 under every policy.
        b.trip_hosts = _persist(b, scheduler.breaker_blocked_hosts(
            catalog.read("metrics", manifest), batch_id=b.batch_id,
            threshold=cfg.failure_trip_threshold,
            cooldown=cfg.failure_trip_cooldown_batches,
        ))
        hosts_df = scheduler.apply_circuit_breaker(hosts_df, b.trip_hosts)
    selected = _persist(b, scheduler.schedule(b.pending, hosts_df, b.batch_id,
                                              with_blocked=True))
    scheduled = selected.filter("NOT blocked").drop("blocked")
    if cfg.global_batch_cap is not None:
        # fleet fetch capacity: admit the top-cap rows by historical host
        # yield (cache-served rows count against the cap too — admission
        # happens before the cache split so the admitted set is a pure
        # function of frontier + metrics state, not of cache contents)
        scheduled = _persist(b, scheduler.cap_global_batch(
            scheduled,
            scheduler.host_yield_scores(catalog.read("metrics", manifest)),
            cfg.global_batch_cap,
            age_bonus_permille=cfg.yield_age_bonus_permille,
            batch_id=b.batch_id,
        ))
    retired = _retired(selected.filter("blocked"), b.batch_id, 0, "robots_blocked")
    fetched_log = None
    if cfg.use_fetch_cache:
        fetched_log = catalog.read("fetched", manifest)
        cached = _persist(b, _cache_hits(b, scheduled, fetched_log))
        retired = retired.unionByName(cached)
        scheduled = scheduled.join(cached.select("url"), on="url", how="left_anti")
    b.scheduled, b.retired = scheduled, retired
    if cfg.revalidate_stale and fetched_log is not None:
        # conditional-revalidation lookup: the latest logged body hash of
        # each STALE scheduled article (fresh ones were served as 'cached'
        # above, so article rows ∩ the log are exactly the expired set).
        # The log is scanned once against the broadcast batch, never
        # shuffled; the hashes ride into the fused stage, where an
        # unchanged page skips the parse itself — the work a real 304 saves.
        stale_arts = b.scheduled.filter(F.col("page_kind") == "article").select("url")
        b.revalid_hashes = (
            fetched_log.join(F.broadcast(stale_arts), on="url", how="left_semi")
            .groupBy("url")
            .agg(F.max(F.struct(
                F.coalesce(F.col("snap_id"), F.lit(0)).alias("snap_id"),
                F.col("body_hash"),
            )).alias("m"))
            .select("url", F.col("m.body_hash").alias("cached_hash"))
        )
    counts = scheduled.selectExpr("1 AS s").unionByName(retired.selectExpr("0 AS s")).agg(
        F.expr("count_if(s = 1) AS n_sched"), F.expr("count_if(s = 0) AS n_retired")
    ).first()
    b.n_sched, b.n_retired = counts["n_sched"], counts["n_retired"]


def _cache_hits(b: _Batch, scheduled: DataFrame, fetched_log: DataFrame) -> DataFrame:
    """Fetched-cache skip (reference HTTPCACHE re-run semantics, settings.py
    :84-89): scheduled ARTICLE pages with a fresh entry in the fetched log
    → terminal 'cached' progress rows instead of a refetch.  Listings are
    always refetched (they are the link-discovery surface; a refresh crawl
    must see new articles)."""
    cfg = b.cfg
    cur_snap = b.manifest["snapshot_id"] + 1
    if cfg.fetch_cache_adaptive:
        # per-URL adaptive freshness: serve while the change-history
        # interval has not elapsed (operators/freshness.py).  The
        # coalesce mirrors the fixed-window branch: legacy null
        # snap_ids read as oldest-possible so they come due first.
        from crawlspark.operators.freshness import freshness_state

        hist = fetched_log.select(
            "url",
            F.coalesce(F.col("snap_id"), F.lit(0)).cast("long").alias("snap_id"),
            F.coalesce(F.col("body_hash"), F.lit("")).alias("body_hash"),
        )
        state = freshness_state(hist, base_snaps=cfg.adaptive_base_snaps)
        fresh = state.filter(F.col("next_due_snap") > F.lit(cur_snap)).select("url")
    elif cfg.fetch_cache_max_age_snaps is not None:
        # refresh-if-older-than-N: keep only entries whose write commit is
        # within the age window; a url with ANY fresh row is served
        # (row-level filter before distinct ≡ max(snap_id) per url).
        # coalesce(snap_id, 0): pre-snap_id warehouses read null here —
        # treat them as oldest-possible (expire under any window; one
        # refetch beats serving an unboundedly stale page) rather than
        # NULL-failing the comparison in a schema-contradicting way
        fresh = fetched_log.filter(
            F.coalesce(F.col("snap_id"), F.lit(0))
            >= cur_snap - cfg.fetch_cache_max_age_snaps
        ).select("url").distinct()
    else:
        fresh = fetched_log.select("url").distinct()
    return _retired(
        scheduled.filter(F.col("page_kind") == "article").join(fresh, on="url", how="left_semi"),
        b.batch_id, 200, "cached",
    )


def _retired(rows: DataFrame, batch_id: int, status: int, outcome: str) -> DataFrame:
    """Terminal progress rows for frontier ``rows`` that are not fetched."""
    return rows.selectExpr(
        "url", "xxhash64(url) AS url_hash", f"{batch_id} AS batch_id",
        f"{status} AS status", f"{U.sql_lit(outcome)} AS outcome",
        "retry_count AS attempt",
    )


def _zero_batch(b: _Batch) -> dict | None:
    """A batch that scheduled nothing: commit just the retired rows, skip
    forward over a waiting frontier, or finish (None).  It is finished
    only when nothing was retired and no pending row is backoff-gated or
    held back by an open circuit breaker whose cooldown will pass."""
    retired = b.n_retired > 0
    if not retired and not (
        b.pending.filter(F.col("not_before_batch") > b.batch_id).count()
        or (b.trip_hosts is not None and b.pending.filter(
            F.col("not_before_batch") <= b.batch_id
        ).join(b.trip_hosts, on="host", how="left_semi").count())
    ):
        return None
    appends = {"progress": b.retired.coalesce(1)} if retired else {}
    return b.catalog.commit(b.batch_id, appends=appends)


def _fetch_parse(b: _Batch) -> None:
    """Fused fetch→parse→clean: one Python stage, bodies never cross
    Arrow; partition count sized to the batch (~100 pages/partition) so
    small politeness batches don't pay a full worker-pool spin-up.

    The stage is persisted and materialized here, before any downstream
    job reads it: the link probe and the commit's concurrent table writes
    then only ever read a filled cache, so every scheduled page is fetched
    exactly once."""
    cfg = b.cfg
    sched_in = b.scheduled
    if b.revalid_hashes is not None:
        # optional cached_hash column for the in-worker 304 check; left
        # join so non-candidates carry null and behave exactly as before
        sched_in = sched_in.join(F.broadcast(b.revalid_hashes), on="url", how="left")
    b.pipe = _persist(b, fetch_parse_stage(
        sched_in, cfg.spec, num_partitions=max(1, (b.n_sched + 99) // 100),
        entire_site=cfg.search_entire_site, strip_tracking=cfg.strip_tracking,
        obey_meta_robots=cfg.obey_meta_robots,
        use_canonical_link=cfg.use_canonical_link,
        use_feeds=cfg.use_feeds,
        obey_link_rel=cfg.obey_link_rel,
    ))
    b.pipe.count()


def _link_probe(b: _Batch) -> None:
    """Extracted links → skip filter → depth cap → in-batch dedup →
    URL-seen probe → the batch's new frontier rows (persisted: the state
    update and the frontier/urlseen appends all read them)."""
    cfg = b.cfg
    links = (
        b.pipe.filter(_IS_LINK).selectExpr(*_LINKS)
        .selectExpr("*", _LINK_DOMAIN)
        .filter(_LINK_KEEP)
        .filter(f"depth + 1 <= {cfg.max_depth}")
    )
    cand = links.groupBy(F.expr("link AS url")).agg(F.expr(_CAND_WINNER)).selectExpr(*_CAND)
    # one_batch: the exact check of the Bloom positives broadcast-SCANS
    # urlseen instead of shuffling it, since the positives are bounded by
    # the batch's links (at 10^10 seen rows the shuffle, not the sliver,
    # is what would dominate every micro-batch); probe_unseen picks the
    # driver or the executors for the probe itself
    urlseen_all = b.catalog.read("urlseen", b.manifest)
    new_links = probe_unseen(b.spark, cand, urlseen_all, b.seen, one_batch=True)
    if cfg.trap_template_cap is not None:
        # cap AFTER the seen-set filter: slots go only to genuinely-new
        # URLs (a re-linked already-seen sibling would otherwise win a
        # slot and then vanish in the dedup — permanently starving the
        # new URL it displaced instead of bounding the template linearly)
        new_links = scheduler.cap_template_explosion(
            new_links, cfg.trap_template_cap
        )
    b.new_frontier = _persist(b, new_links.selectExpr(
        "url", "xxhash64(url) AS url_hash", "host", "depth",
        f"{scheduler.PRIORITY_SQL} AS priority",
        f"{b.batch_id} AS discovered_batch", "0 AS retry_count",
        f"{b.batch_id + 1} AS not_before_batch", "page_kind", "meta",
    ))


def _commit_plans(b: _Batch) -> dict:
    """The batch's per-table appends (lazy plans): frontier (new links +
    retries), urlseen, progress, documents, metrics and the fetch log."""
    bid = b.batch_id
    fetched = b.pipe.filter(_IS_FETCH).selectExpr("*", _OUTCOME)
    progress = fetched.selectExpr(
        "url", "xxhash64(url) AS url_hash", f"{bid} AS batch_id", "status",
        "outcome", "retry_count AS attempt",
    )
    if b.n_retired:
        progress = progress.unionByName(b.retired)
    # retry re-entry with exponential backoff (reference :543-555, :636)
    retries = fetched.filter(_IS_RETRY).selectExpr(
        "url", "xxhash64(url) AS url_hash", "host", "depth", "priority",
        f"{bid} AS discovered_batch", "retry_count + 1 AS retry_count",
        f"{bid} + CAST(pow(2.0D, retry_count + 1) AS INT) AS not_before_batch",
        "page_kind", "meta",
    )
    # docs path: same broadcast-scan inversion as the urlseen exact
    # check — the batch's doc ids are bounded, the documents table grows
    # with the crawl, so scan it against the broadcast batch ids instead
    # of shuffling it
    docs = docs_from_pipe(b.pipe.filter(_IS_DOC), bid)
    doc_hits = b.catalog.read("documents", b.manifest).select("doc_id").join(
        F.broadcast(docs.select("doc_id").distinct()), on="doc_id", how="left_semi",
    )
    docs = docs.join(F.broadcast(doc_hits), on="doc_id", how="left_anti")
    # metrics (per batch × host lineage; SURVEY §2.4 A2)
    parsed_counts = b.pipe.filter(f"NOT {_IS_FETCH}").groupBy("host").agg(
        *map(F.expr, _PARSED_AGGS)
    )
    metrics = (
        fetched.groupBy("host")
        .agg(*map(F.expr, _METRICS_AGGS))
        .join(parsed_counts, on="host", how="left")
        .selectExpr(f"{bid} AS batch_id", *_METRICS)
    )
    # per-fetch cache log (S9): url + transfer encoding + decoded-body
    # hash; snap_id = this commit's snapshot, the entry's write-time clock
    fetch_log = fetched.filter(_IS_OK).selectExpr(
        "url", "xxhash64(url) AS url_hash", "status", "content_encoding", "body_hash",
        f"{bid} AS batch_id", f"{b.manifest['snapshot_id'] + 1} AS snap_id",
    )
    # batch-sized appends: coalesce to a file count proportional to the
    # batch so a small politeness batch writes 1 file per table, not
    # shuffle-partitions-many KB-sized files (read cost of later batches
    # scales with file count)
    k_files = max(1, b.n_sched // 2000)
    return {
        "frontier": retries.unionByName(b.new_frontier).coalesce(k_files),
        "urlseen": b.new_frontier.selectExpr(
            "url", "url_hash", f"{bid} AS added_batch"
        ).coalesce(k_files),
        "progress": progress.coalesce(k_files),
        "documents": docs.coalesce(k_files),
        "metrics": metrics.coalesce(1),
        "fetched": fetch_log.coalesce(k_files),
    }


def _state_update(b: _Batch) -> tuple:
    """The batch's new frontier rows folded into the URL-seen filter, and
    the capacity auto-guard on compaction batches: → (the filter, its
    manifest state, the hosts append or None when no new host was
    discovered)."""
    hosts = _seen_update(b.spark, b.seen, b.new_frontier, b.hosts_tbl, one_batch=True)
    resplit = _bloom_autosplit(b) if b.is_compact else {}
    return b.seen, {**_bloom_lineage(b.seen), **resplit}, hosts


def _bloom_autosplit(b: _Batch) -> dict:
    """Bloom capacity auto-guard: past 10x the target FPR, rebuild at
    double the bucket count from the exact seen set (urlseen + this
    batch's accepted rows — bits cannot be split, but the exact set can
    always re-derive them).  One distributed groupBy(bucket).applyInPandas
    job, same kernel as the steady-state update; old blob files stay
    referenced by old snapshots (isolation) and are swept at expiry.
    The replaced filter's broadcast is released.  Returns the lineage
    update."""
    if b.seen.fpr_estimate() <= 10 * b.cfg.bloom_target_fpr:
        return {}
    all_seen = b.catalog.read("urlseen", b.manifest).select("url").unionByName(
        b.new_frontier.select("url")
    )
    old, b.seen = b.seen, b.seen.empty_like(b.seen.n_buckets * 2)
    old.release()
    b.seen.merge(bloom_delta(b.spark, all_seen, b.seen))
    return {"bloom_resplit_to": b.seen.n_buckets}


def _compaction(b: _Batch, appends: dict) -> dict:
    """Compaction commit arguments.  The pending set after this batch
    replaces the frontier (taking over the frontier append), so the
    per-batch frontier read stays flat as the crawl grows.  progress and
    urlseen stay append-only: urlseen IS the exact dedup set and progress
    is the crawl-order audit, read by column.  Their delta files (and
    those of the other logs) since the last merge are folded into one file
    per table, so per-batch read cost scales with compaction count, not
    batch count."""
    catalog, manifest = b.catalog, b.manifest
    pending_after = _pending(catalog, manifest, appends.pop("frontier"), appends["progress"])
    rewrite = {}
    merged_th = manifest["state"].get("merged_through_snap", 0)
    for tbl in ("urlseen", "progress", "fetched", "metrics", "hosts"):
        deltas = [
            p for p in manifest.get("tables", {}).get(tbl, [])
            if catalog.snap_of(p) > merged_th
        ]
        if len(deltas) >= 2:
            rewrite[tbl] = (deltas, catalog.read_files(tbl, deltas).coalesce(1))
    # the new commit's snapshot id = prev + 1; recording THAT id keeps
    # the merged output (written at the new snap) out of future merges,
    # so each merge's input is only the inter-compaction delta window
    return {
        "replace": {"frontier": pending_after},
        "rewrite": rewrite,
        "state": {"merged_through_snap": manifest["snapshot_id"] + 1},
    }


def _commit(b: _Batch, appends: dict, update: tuple) -> dict:
    """One atomic commit: the table appends (and on a compaction batch the
    replace and rewrites), with ``_state_update``'s filter, manifest state
    and hosts append in the same manifest."""
    bloom, state, hosts = update
    if hosts is not None:
        appends["hosts"] = hosts
    kw = _compaction(b, appends) if b.is_compact else {}
    manifest = b.catalog.commit(
        b.batch_id, appends=appends, bloom=bloom,
        state={**state, **kw.pop("state", {})}, **kw,
    )
    if b.is_compact and b.cfg.keep_snapshots:
        b.catalog.expire_snapshots(keep_last=b.cfg.keep_snapshots)
    return manifest


def _release(b: _Batch) -> None:
    """Drop the batch's caches and broadcasts (its state is committed) and
    print the CRAWLSPARK_PROF line."""
    for df in b.cached:
        df.unpersist()
    b.seen.release()
    if b.prof is not None:
        print(f"[prof] batch {b.batch_id} n_sched={b.n_sched}: "
              + ", ".join(f"{k}={v:.2f}s" for k, v in b.prof.items()))


def run_batch(spark: SparkSession, catalog: SnapshotCatalog, cfg: CrawlConfig,
              manifest: dict) -> dict | None:
    """One micro-batch; returns the new manifest, or None when finished.
    The batch is a function of ``manifest`` alone: no driver state is
    carried from one batch to the next.

    The batch runs as phases over one shared ``_Batch``: ``_schedule``
    (pending frontier → politeness top-K, counted), ``_fetch_parse`` (the
    fused fetch→parse→clean stage, materialized), ``_link_probe`` (links →
    URL-seen probe → new frontier rows), ``_state_update`` (the Bloom
    update and host discovery), ``_commit_plans`` (the per-table appends)
    and ``_commit`` (one atomic commit of all of them).  A batch that
    schedules nothing goes to ``_zero_batch`` instead, which holds the
    stop check.  Set CRAWLSPARK_PROF=1 to print each phase's wall time,
    one line per batch — the politeness-bound loop's fixed cost is job
    count × fixed job overhead, so this is the first thing to look at
    when a batch is slower than its page count explains."""
    batch_id = manifest["batch_id"] + 1
    # Bloom layout follows the manifest (resume-safe across config edits)
    seen = catalog.load_bloom(manifest)
    b = _Batch(
        spark=spark, catalog=catalog, cfg=cfg, manifest=manifest,
        batch_id=batch_id,
        is_compact=bool(cfg.compact_every) and batch_id % cfg.compact_every == 0,
        seen=seen,
        prof={} if os.environ.get("CRAWLSPARK_PROF") else None,
    )
    try:
        _phase(b, _schedule)
        if b.n_sched == 0:
            return _phase(b, _zero_batch)
        _phase(b, _fetch_parse)
        _phase(b, _link_probe)
        update = _phase(b, _state_update)
        appends = _phase(b, _commit_plans)
        return _phase(b, _commit, appends, update)
    finally:
        _release(b)


def enrich_frontier(spark: SparkSession, cfg: CrawlConfig, extra_seeds) -> dict:
    """Merge extra seed rows (FRONTIER schema, e.g. from
    sources.archive.archive_seed_frame) into an existing crawl warehouse:
    dedup against urlseen (Bloom + exact), append, update Bloom —
    the reference's archive.org entry point (SURVEY §3 entry 2)."""
    catalog = SnapshotCatalog(spark, cfg.warehouse)
    manifest = catalog.latest()
    if manifest is None:
        manifest = init_crawl(spark, cfg)
    seen = catalog.load_bloom(manifest)
    batch_id = manifest["batch_id"]
    urlseen_all = catalog.read("urlseen", manifest)
    seeds = extra_seeds.dropDuplicates(["url"])
    new = probe_unseen(spark, seeds, urlseen_all, seen).persist()
    hosts = _seen_update(spark, seen, new, catalog.read("hosts", manifest))
    appends = {
        "frontier": new.coalesce(1),
        "urlseen": new.select(
            "url", "url_hash", F.lit(batch_id).alias("added_batch")
        ).coalesce(1),
    }
    if hosts is not None:
        appends["hosts"] = hosts
    out = catalog.commit(batch_id, appends=appends, bloom=seen)
    new.unpersist()
    seen.release()
    return out


def run_crawl(spark: SparkSession, cfg: CrawlConfig, resume: bool = False,
              resume_from_snapshot: int | None = None) -> dict:
    """Run to completion (or max_batches); returns a summary dict.

    The loop feeds each committed manifest to the next ``run_batch`` and
    carries nothing else between batches, so a resumed run continues
    exactly as a straight run would.

    ``resume_from_snapshot``: time-travel resume — roll the warehouse
    back to that retained snapshot (catalog.rollback) and continue from
    exactly the state committed there, abandoning any later snapshots
    (they stay readable until expire_snapshots).  The engine is
    deterministic, so rollback(S) + resume replays batches S+1… to the
    same final state a straight run produced — the operational lever for
    'a bad config/rule shipped at batch k; rewind and re-run'."""
    catalog = SnapshotCatalog(spark, cfg.warehouse)
    if resume_from_snapshot is not None:
        manifest = catalog.rollback(resume_from_snapshot)
    else:
        manifest = catalog.latest() if resume else None
    if manifest is None:
        manifest = init_crawl(spark, cfg)
    while manifest["batch_id"] < cfg.max_batches:
        nxt = run_batch(spark, catalog, cfg, manifest)
        if nxt is None:
            break
        manifest = nxt
    docs = catalog.read("documents", manifest)
    progress = catalog.read("progress", manifest)
    frontier = catalog.read("frontier", manifest)
    # ONE aggregation job for all three progress-derived counters (three
    # separate count() jobs were ~10% of a short crawl's wall time)
    prog_row = progress.agg(
        F.count("*").alias("n"),
        F.sum((F.col("outcome") == "done").cast("long")).alias("n_done"),
        F.sum((F.col("outcome") == "cached").cast("long")).alias("n_cached"),
        F.sum((F.col("outcome") == "revalidated").cast("long")).alias("n_reval"),
    ).collect()[0]
    return {
        "batches": manifest["batch_id"],
        "n_documents": docs.count(),
        "n_fetched": int(prog_row["n_done"] or 0),
        "n_progress": int(prog_row["n"]),
        "n_frontier": frontier.count(),
        "refetch_skipped": int(prog_row["n_cached"] or 0),
        "revalidated": int(prog_row["n_reval"] or 0),
        "manifest": manifest,
    }
