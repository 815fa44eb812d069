"""Fused fetch→parse→clean stage: ONE mapInPandas per micro-batch.

Each page is fetched, transfer-decoded, hashed, parsed (parse._parse_row)
and its spans cleaned inside one Python worker, so the page body is born
and dies there and crosses the JVM↔Python Arrow boundary not at all: the
stage's output is only the small stuff (links, cleaned spans, fetch
outcomes), and parallelism equals the partition count.  Splitting the
stage into separate fetch/parse/clean UDFs would run three Python workers
per task and ship every body across Arrow twice (measured on local[32]:
~3x oversubscription, throughput below local[8]).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark import schemas, synthetic
from crawlspark.functions.dates import parse_date_py
from crawlspark.functions.textclean import clean_spans
from crawlspark.operators.parse import _parse_row

PIPE = T.StructType(
    [
        T.StructField("rec", T.StringType(), False),  # fetch | link | doc
        T.StructField("url", T.StringType(), False),
        T.StructField("final_url", T.StringType(), True),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("page_kind", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("elapsed_ms", T.LongType(), True),
        T.StructField("content_encoding", T.StringType(), True),
        T.StructField("body_hash", T.StringType(), True),
        T.StructField("decode_error", T.BooleanType(), True),
        T.StructField("link", T.StringType(), True),
        T.StructField("link_kind", T.StringType(), True),
        T.StructField("meta", schemas.META, True),
        T.StructField("title", T.StringType(), True),
        T.StructField("date_raw", T.StringType(), True),
        T.StructField("published_date", T.DateType(), True),
        T.StructField("spans", T.ArrayType(schemas.SPAN), True),
        # conditional-revalidation verdict (cfg.revalidate_stale): set on
        # 'fetch' records when the input row carried a cached_hash column
        # and the fresh decoded-body hash matched it (an un-redirected
        # 200) — the worker then skips the parse entirely, so the saved
        # work is the parse itself, not just its downstream rows
        T.StructField("revalidated", T.BooleanType(), True),
    ]
)

_PIPE_COLS = [f.name for f in PIPE.fields]


def fetch_parse_stage(
    scheduled: DataFrame, spec: synthetic.WebSpec, num_partitions: int | None = None,
    fetch_fn=None, entire_site: bool = True, strip_tracking: bool = False,
    obey_meta_robots: bool = False, use_canonical_link: bool = False,
    use_feeds: bool = False, obey_link_rel: bool = False,
) -> DataFrame:
    """scheduled(FRONTIER rows) → PIPE union rows (fetch/link/doc).

    ``num_partitions``: pass the caller's known row count derived value so
    tiny batches don't fan out to shuffle-partitions-many Python workers
    (a 32-worker spin-up for an 8-row batch costs more than the batch).

    ``fetch_fn(url, attempt) -> (status, final_url, raw_bytes, encoding,
    elapsed_ms)`` is the pluggable fetcher seam (reference S3/S4: the
    Selenium/Playwright downloader middlewares, middlewares.py:63-117,
    plug in here on a real deployment — one browser/HTTP-pool per Python
    worker, rows arrive (host, salt)-partitioned for keep-alive reuse).
    Default: the deterministic synthetic web at the transfer level.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from crawlspark.functions.transfer import body_hash_py, decode_body_py

        fetcher = fetch_fn or (
            lambda url, attempt: synthetic.fetch_encoded(spec, url, attempt)
        )
        for pdf in batches:
            rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                status, final_url, raw, enc, elapsed = fetcher(r.url, r.retry_count)
                body, decode_error = decode_body_py(raw, enc)
                meta = r.meta if isinstance(r.meta, dict) else None
                bh = body_hash_py(body) if status == 200 and not decode_error else None
                # conditional revalidation (HTTP 304 analog): the caller
                # left-joined the latest logged hash onto stale articles
                # as an OPTIONAL cached_hash column — an un-redirected
                # clean 200 with an unchanged hash skips the parse below
                ch = getattr(r, "cached_hash", None)
                reval = (isinstance(ch, str) and bh is not None
                         and (final_url or r.url) == r.url and bh == ch)
                base = {
                    "url": r.url, "final_url": final_url, "host": r.host,
                    "depth": int(r.depth), "page_kind": r.page_kind,
                    "priority": float(r.priority), "retry_count": int(r.retry_count),
                    "status": int(status), "elapsed_ms": int(elapsed),
                    "content_encoding": None, "body_hash": None,
                    "decode_error": None,
                    "link": None, "link_kind": None,
                    "meta": None, "title": None, "date_raw": None,
                    "published_date": None, "spans": None,
                    "revalidated": None,
                }
                rows.append({
                    **base, "rec": "fetch", "meta": meta,
                    "content_encoding": enc,
                    "body_hash": bh,
                    "decode_error": bool(decode_error),
                    "revalidated": reval,
                })
                if status != 200 or decode_error or reval:
                    continue
                for p in _parse_row(final_url or r.url, r.host, int(r.depth),
                                    r.page_kind, status, body, meta,
                                    entire_site=entire_site,
                                    strip_tracking=strip_tracking,
                                    obey_meta_robots=obey_meta_robots,
                                    use_canonical_link=use_canonical_link,
                                    use_feeds=use_feeds,
                                    obey_link_rel=obey_link_rel):
                    # parse rows are keyed by the PARSED url (= final_url
                    # under a redirect), as the oracle keys them — link
                    # src_url / min_by winners follow the redirect
                    out = {**base, "rec": p["rec"], "url": final_url or r.url,
                           "link": p["link"],
                           "link_kind": p["link_kind"], "meta": p["meta"],
                           "title": p["title"], "date_raw": p["date_raw"]}
                    if p["rec"] == "doc":
                        cleaned = clean_spans(
                            [(s["kind"], s["text"], s["media_ref"]) for s in p["spans"]]
                        )
                        out["spans"] = cleaned
                        out["published_date"] = parse_date_py(p["date_raw"])
                        out["url"] = p["url"]  # doc keyed by final url
                    rows.append(out)
            if rows:
                yield pd.DataFrame(rows, columns=_PIPE_COLS)

    sp = int(scheduled.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_parts = min(num_partitions, sp) if num_partitions else sp
    salt = F.pmod(F.xxhash64("url"), F.lit(64))
    # Partition by (host, salt): per-host locality for connection reuse,
    # without capping parallelism at the distinct-host count.  The
    # partition count is EXPLICIT: the input shuffle is slim URL rows, so
    # AQE would coalesce it to one partition and serialize the CPU-heavy
    # stage (observed: 32 cores at single-core throughput).
    return scheduled.repartition(n_parts, F.col("host"), salt).mapInPandas(run, schema=PIPE)


def docs_from_pipe(pipe_docs: DataFrame, batch_id: int) -> DataFrame:
    """PIPE rec='doc' rows → DOCUMENTS rows through the pure-Column filter
    tail (spans already cleaned, dates already parsed inside the fused
    stage)."""
    from crawlspark.operators.docs import finalize_documents

    return finalize_documents(
        pipe_docs.select("url", "title", "published_date", "spans"), batch_id
    )
