"""All table schemas, declared once (SURVEY.md §1).

The reference is schemaless (dicts + Request.meta side-channels); here
every table is an explicit StructType.  Tables are snapshot-committed
Parquet (see tables.py) with Iceberg-compatible layouts so a real Iceberg
catalog can be swapped in when its runtime jar is on the classpath.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- span struct: the interleaved text+media payload (BASELINE input_hint;
# reference analog: ordered .getall() fragment lists + excluded figure /
# caption nodes, covid_news_spider.py:2061,2270,2283,2533-2536)
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # 'text' | 'media'
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# meta side-channel carried listing→article (reference: Request.meta at
# covid_news_spider.py:1601, consumed :2035-2037)
META = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("article_url", T.StringType(), True),
    ]
)

# --- frontier: the URL queue (append-only delta log; pending = frontier
# ANTI JOIN progress on url).  Partition/bucket key: host (north_rule).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),  # canonical
        T.StructField("url_hash", T.LongType(), False),  # xxhash64(url)
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("discovered_batch", T.IntegerType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("not_before_batch", T.IntegerType(), False),
        T.StructField("page_kind", T.StringType(), False),  # listing|article
        T.StructField("meta", META, True),
    ]
)

# --- urlseen: the exact seen set (append-only, never compacted away);
# the Bloom filter is its probabilistic accelerator — Bloom positives are
# verified here so false positives never drop a URL (SURVEY §2.3 J1).
URLSEEN = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("added_batch", T.IntegerType(), False),
    ]
)

# --- progress: fetch outcomes, append-only (url leaves pending set when a
# terminal record lands; retries re-enter via a new frontier record).
PROGRESS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("batch_id", T.IntegerType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("outcome", T.StringType(), False),  # done|retry|failed|skipped
        T.StructField("attempt", T.IntegerType(), False),  # = frontier.retry_count
    ]
)

# --- fetched_cache: persistent per-fetch log (reference HTTPCACHE,
# settings.py:84-89): what was fetched, how it was transfer-encoded, and
# the decoded body's content hash.  Bodies themselves are NOT persisted
# (at 10^10 URLs the body store is an object-store concern); a re-crawl
# anti-joins this table to skip refetching unchanged articles.
FETCHED_CACHE = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("content_encoding", T.StringType(), True),
        T.StructField("body_hash", T.StringType(), True),
        T.StructField("batch_id", T.IntegerType(), False),
        # global monotone commit counter at write time (snapshot ids never
        # reset, unlike per-epoch batch ids) — the cache-staleness clock
        # (reference HTTPCACHE_EXPIRATION_SECS, settings.py:85).  Nullable:
        # warehouses written before this column existed read back null; the
        # staleness filter coalesces null to 0 (oldest possible), so legacy
        # entries expire under any configured age window instead of
        # contradicting the declared schema
        T.StructField("snap_id", T.IntegerType(), True),
    ]
)

# --- parsed: one parse._parse_row record (rec='link' | 'doc'); the fused
# stage's PIPE rows carry these columns
PARSED = T.StructType(
    [
        T.StructField("rec", T.StringType(), False),
        T.StructField("url", T.StringType(), False),  # source page url
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("page_kind", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        # link rows
        T.StructField("link", T.StringType(), True),
        T.StructField("link_kind", T.StringType(), True),  # listing|article
        T.StructField("meta", META, True),
        # doc rows
        T.StructField("title", T.StringType(), True),
        T.StructField("date_raw", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN), True),
    ]
)

# --- documents: the output table (input_hint shape + crawl metadata)
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),  # sha1(canonical url)
        T.StructField("url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("published_date", T.DateType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("batch_id", T.IntegerType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# --- hosts: politeness state (small dimension, broadcast everywhere)
HOSTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay_s", T.DoubleType(), False),
        T.StructField("budget_per_batch", T.IntegerType(), False),
        T.StructField("robots_disallow", T.ArrayType(T.StringType()), True),
        # Allow-override patterns (REP longest-match; pre-round-5
        # warehouses lack the column — parquet schema read yields null,
        # which the rx compiler treats as no overrides)
        T.StructField("robots_allow", T.ArrayType(T.StringType()), True),
    ]
)

# --- metrics: per (batch, host) lineage + fetch/parse metrics (north_rule)
METRICS = T.StructType(
    [
        T.StructField("batch_id", T.IntegerType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("n_scheduled", T.LongType(), False),
        T.StructField("n_ok", T.LongType(), False),
        T.StructField("n_retry", T.LongType(), False),
        T.StructField("n_failed", T.LongType(), False),
        T.StructField("n_skipped", T.LongType(), False),
        T.StructField("n_links_out", T.LongType(), False),
        T.StructField("n_docs_out", T.LongType(), False),
        T.StructField("sum_elapsed_ms", T.LongType(), False),
    ]
)

TABLE_SCHEMAS = {
    "frontier": FRONTIER,
    "urlseen": URLSEEN,
    "progress": PROGRESS,
    "documents": DOCUMENTS,
    "metrics": METRICS,
    # hosts politeness state is a snapshot table, NOT manifest JSON: at
    # web scale (10^6+ hosts) a manifest-resident dict would grow the JSON
    # parsed on every batch without bound
    "hosts": HOSTS,
    "fetched": FETCHED_CACHE,
}
