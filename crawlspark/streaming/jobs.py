"""Structured Streaming jobs (SURVEY §2.9).

The crawl loop itself is iterative (self-feeding frontier → driver loop,
not a single streaming DAG), but the engine's *monitoring and ingestion*
surfaces are streams:

  * ``stream_metrics`` — windowed fetch-metrics aggregation with a
    watermark for late batches (the streaming analog of the A2 metrics
    table);
  * ``stream_rate_limiter`` — a custom stateful operator
    (applyInPandasWithState): per-host token bucket that admits or defers
    URLs according to the crawl-delay budget — the streaming form of the
    politeness scheduler (reference DOWNLOAD_DELAY :427-428).

Both run to completion synchronously in tests via the memory sink +
``processAllAvailable()``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_metrics(spark: SparkSession, events_dir: str, schema: T.StructType,
                   window: str = "15 minutes", watermark: str = "30 minutes") -> DataFrame:
    """File-source streaming read → watermarked tumbling-window counts."""
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_c"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value_c")
    )


RATE_OUT = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("decision", T.StringType()),  # admit | defer
        T.StructField("tokens_left", T.DoubleType()),
    ]
)
RATE_STATE = T.StructType([T.StructField("tokens", T.DoubleType())])


def rate_limit_fn(budget_per_trigger: float):
    """Token-bucket politeness: each trigger refills the host's bucket by
    the budget; URLs beyond it are deferred (stateful across triggers)."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (host,) = key
        tokens = state.get[0] if state.exists else 0.0
        tokens = min(tokens + budget_per_trigger, 2 * budget_per_trigger)
        out = []
        for pdf in pdfs:
            for url in sorted(pdf["url"]):
                if tokens >= 1.0:
                    tokens -= 1.0
                    out.append((host, url, "admit", tokens))
                else:
                    out.append((host, url, "defer", tokens))
        state.update((tokens,))
        yield pd.DataFrame(out, columns=["host", "url", "decision", "tokens_left"])

    return fn


def stream_rate_limiter(urls_stream: DataFrame, budget_per_trigger: float = 5.0) -> DataFrame:
    """urls_stream(host, url) → admit/defer decisions, stateful per host."""
    return urls_stream.groupBy("host").applyInPandasWithState(
        rate_limit_fn(budget_per_trigger),
        outputStructType=RATE_OUT,
        stateStructType=RATE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_to_snapshot_sink(stream_df, catalog, table: str, checkpoint_dir: str):
    """Exactly-once streaming sink into the snapshot table layer via
    foreachBatch: each micro-batch appends under a snapshot commit keyed by
    the epoch id, and an already-committed epoch is skipped on replay —
    idempotent against Structured Streaming's at-least-once foreachBatch
    contract.  ``table`` must be one the catalog declares
    (``schemas.TABLE_SCHEMAS``); each micro-batch is written with its
    declared columns.  Returns the StreamingQuery."""

    def sink(batch_df, epoch_id: int):
        m = catalog.latest() or {}
        done = (m.get("state") or {}).get("stream_epochs", {}).get(table, -1)
        if epoch_id <= done:
            return  # replayed epoch: already committed, skip
        epochs = dict((m.get("state") or {}).get("stream_epochs", {}))
        epochs[table] = epoch_id
        catalog.commit(
            m.get("batch_id", 0),
            appends={table: batch_df},
            state={"stream_epochs": epochs},
        )

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )


def stream_frontier_dedup(stream: DataFrame, watermark: tuple[str, str] | None = None) -> DataFrame:
    """Streaming URL-seen dedup — the in-stream twin of J1's batch path
    (reference dupefilter, settings.py:107): state-backed dropDuplicates
    on url, so a URL is emitted on FIRST arrival only, across triggers.

    ``watermark=(ts_col, delay)`` switches to dropDuplicatesWithinWatermark
    so the per-query dedup state is TTL-bounded by event time — the form a
    long-running ingestion stream must use (unbounded exact state is the
    same non-starter as the reference's in-memory fingerprint set at
    10^10 URLs; the crawl loop's Bloom store remains the full-lifetime
    dedup, this guards the stream surface).
    """
    if watermark is not None:
        col, delay = watermark
        return stream.withWatermark(col, delay).dropDuplicatesWithinWatermark(["url"])
    return stream.dropDuplicates(["url"])


SESSION_OUT = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("n_fetches", T.IntegerType()),
        T.StructField("first_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
    ]
)
SESSION_STATE = T.StructType(
    [
        T.StructField("session_id", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("first_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
    ]
)


def sessionize_fn(gap_ms: int, timeout_ms: int):
    """Per-host crawl-session assembly with a PROCESSING-TIME STATE
    TIMEOUT: fetches within ``gap_ms`` of the previous one extend the open
    session; a larger gap closes it and opens the next.  A host whose
    stream goes quiet does not hold state forever — the timeout fires
    (state.hasTimedOut) and flushes the open session with no input rows,
    exactly the applyInPandasWithState timeout contract a long-running
    per-key stateful operator needs at web scale (10^6 hosts cannot each
    pin state until end-of-stream)."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (host,) = key
        if state.hasTimedOut:
            sid, n, first_ms, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                [(host, sid, n, first_ms, last_ms)],
                columns=["host", "session_id", "n_fetches", "first_ms", "last_ms"],
            )
            return
        sid, n, first_ms, last_ms = (
            state.get if state.exists else (0, 0, None, None)
        )
        closed = []
        ts_all = sorted(
            int(t) for pdf in pdfs for t in pdf["ts_ms"].tolist()
        )
        for t in ts_all:
            if n > 0 and t - last_ms > gap_ms:
                closed.append((host, sid, n, first_ms, last_ms))
                sid, n, first_ms = sid + 1, 0, None
            if n == 0:
                first_ms = t
            n += 1
            last_ms = t
        state.update((sid, n, first_ms, last_ms))
        state.setTimeoutDuration(timeout_ms)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["host", "session_id", "n_fetches", "first_ms", "last_ms"],
            )

    return fn


def stream_sessionize(fetch_stream: DataFrame, gap_ms: int = 5_000,
                      timeout_ms: int = 60_000) -> DataFrame:
    """fetch_stream(host, ts_ms) → closed crawl sessions per host
    (custom stateful streaming operator with state timeout)."""
    return fetch_stream.groupBy("host").applyInPandasWithState(
        sessionize_fn(gap_ms, timeout_ms),
        outputStructType=SESSION_OUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


BREAKER_OUT = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("event", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("consec_fails", T.LongType()),
    ]
)
BREAKER_STATE = T.StructType(
    [
        T.StructField("consec", T.LongType()),
        T.StructField("tripped", T.IntegerType()),
    ]
)


def breaker_monitor_fn(threshold: int):
    """Per-host consecutive-failure counter with cross-trigger state: the
    streaming twin of the batch circuit breaker
    (scheduler.breaker_blocked_hosts).  Emits a ``trip`` event on the
    exact fetch whose failure crosses ``threshold`` and a ``close`` event
    on the first success after a trip — the live ops feed a fleet
    dashboard alerts on, while the batch loop enforces the budget."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (host,) = key
        consec, tripped = state.get if state.exists else (0, 0)
        events = []
        rows = sorted(
            (int(t), bool(o))
            for pdf in pdfs
            for t, o in zip(pdf["ts_ms"].tolist(), pdf["ok"].tolist())
        )
        for t, ok in rows:
            if ok:
                if tripped:
                    events.append((host, "close", t, consec))
                consec, tripped = 0, 0
            else:
                consec += 1
                if consec == threshold and not tripped:
                    tripped = 1
                    events.append((host, "trip", t, consec))
        state.update((consec, tripped))
        if events:
            yield pd.DataFrame(
                events, columns=["host", "event", "ts_ms", "consec_fails"]
            )

    return fn


def stream_host_breaker(fetch_stream: DataFrame, threshold: int = 3) -> DataFrame:
    """fetch_stream(host, ts_ms, ok) → trip/close breaker events per host
    (custom stateful streaming operator; state survives across triggers)."""
    return fetch_stream.groupBy("host").applyInPandasWithState(
        breaker_monitor_fn(threshold),
        outputStructType=BREAKER_OUT,
        stateStructType=BREAKER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FEED_ENTRY_OUT = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("published", T.StringType()),
        T.StructField("poll_ts_ms", T.LongType()),
    ]
)


def stream_feed_poll(feed_stream: DataFrame,
                     watermark: tuple[str, str] | None = None) -> DataFrame:
    """Streaming feed poller — the live twin of cfg.use_feeds' batch
    intake: feed_stream(host, poll_ts_ms, xml) rows (each a fetched feed
    snapshot) parse into entries with the SAME grammar-agnostic parser
    the batch loop and the feed_entries_parse oracle share
    (sources/feeds.py), then cross-trigger URL dedup emits each entry
    ONCE, on the poll that first carried it.  Re-polling a feed is the
    whole point of feeds (they change faster than sitemaps), so most
    entries in most polls are repeats — the dedup state turns the
    repeated snapshots into a stream of genuinely-new URLs ready for
    frontier admission.  ``watermark=(col, delay)`` bounds the dedup
    state by event time for long-running streams (same contract as
    stream_frontier_dedup)."""
    from crawlspark.sources.feeds import feed_entries_py

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host, ts, xml in zip(pdf["host"], pdf["poll_ts_ms"],
                                     pdf["xml"]):
                for e in feed_entries_py(xml):
                    rows.append((host, e["url"], e["title"],
                                 e["published"], int(ts)))
            if rows:
                yield pd.DataFrame(rows, columns=[f.name for f in
                                                  FEED_ENTRY_OUT.fields])

    parsed = feed_stream.mapInPandas(parse, schema=FEED_ENTRY_OUT)
    return stream_frontier_dedup(parsed, watermark)
