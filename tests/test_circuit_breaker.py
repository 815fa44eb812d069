"""cfg.failure_trip_threshold e2e: per-host circuit breaker.  A host whose
last N active batches produced zero successful fetches stops being
scheduled for a cooldown, then re-admits for one probe batch.  The
engine's SQL form (scheduler.breaker_blocked_hosts over the metrics
table) and the oracle share breaker_tripped_py, so equality here proves
the fetch histories the two sides judge are identical, batch for batch.
"""

import pytest

from crawlspark import synthetic
from crawlspark.crawl import CrawlConfig, run_crawl
from crawlspark.operators.scheduler import (
    breaker_blocked_hosts,
    breaker_tripped_py,
)
from crawlspark.oracle import crawl_oracle
from crawlspark.tables import SnapshotCatalog

SCALE = 0.1
MAX_BATCHES = 25
DEAD = "www.fmt.example"
THRESHOLD, COOLDOWN = 2, 3


def test_breaker_predicate_properties():
    kw = dict(threshold=2, cooldown=3, now_batch=10)
    assert not breaker_tripped_py([], **kw)  # no history, no trip
    # one failing active batch is below threshold
    assert not breaker_tripped_py([(9, 0, 5)], **kw)
    # two failing active batches within cooldown: open
    assert breaker_tripped_py([(8, 0, 5), (9, 0, 5)], **kw)
    # cooldown expired (last active batch 6, now 10 > 6+3): probe allowed
    assert not breaker_tripped_py([(5, 0, 5), (6, 0, 5)], **kw)
    # a success inside the tail closes the breaker
    assert not breaker_tripped_py([(8, 0, 5), (9, 2, 5)], **kw)
    # a success OUTSIDE the tail doesn't save a host failing since
    assert breaker_tripped_py([(7, 3, 5), (8, 0, 5), (9, 0, 5)], **kw)
    # inactive batches (n_scheduled=0) are ignored, order-independent
    assert breaker_tripped_py([(9, 0, 5), (4, 0, 0), (8, 0, 5)], **kw)


def test_engine_blocked_hosts_matches_python(spark):
    hist = {
        "open": [(8, 0, 5), (9, 0, 5)],
        "cooled": [(4, 0, 5), (5, 0, 5)],
        "healthy": [(8, 0, 5), (9, 2, 5)],
        "young": [(9, 0, 5)],
        "relapsed": [(7, 3, 5), (8, 0, 5), (9, 0, 5)],
    }
    rows = [
        (h, b, ok, n, 0, 0, 0, 0, 0)
        for h, hs in hist.items() for (b, ok, n) in hs
    ]
    metrics = spark.createDataFrame(
        rows,
        "host string, batch_id int, n_ok long, n_scheduled long, "
        "n_retry long, n_failed long, n_skipped long, n_links_out long, "
        "n_docs_out long",
    )
    for now in (9, 10, 12, 13):
        engine = {
            r["host"]
            for r in breaker_blocked_hosts(
                metrics, batch_id=now, threshold=2, cooldown=3
            ).collect()
        }
        python = {
            h for h, hs in hist.items()
            if breaker_tripped_py(hs, threshold=2, cooldown=3, now_batch=now)
        }
        assert engine == python, (now, engine, python)


def _dead_seed_urls(spec):
    return synthetic.seed_urls(spec) + [
        synthetic.article_url(DEAD, i) for i in range(6)
    ]


def _dead_host_kw():
    spec = synthetic.WebSpec(scale=SCALE, dead_hosts=(DEAD,))
    return dict(spec=spec, budget_override=2, compact_every=4,
                seed_urls=_dead_seed_urls(spec),
                failure_trip_threshold=THRESHOLD,
                failure_trip_cooldown_batches=COOLDOWN)


@pytest.fixture(scope="module")
def dead_host_wh(spark, tmp_path_factory):
    """One uninterrupted breaker crawl over a web with a dead host, read
    (never written) by the tests below."""
    wh = str(tmp_path_factory.mktemp("wh_cb"))
    run_crawl(spark, CrawlConfig(warehouse=wh, max_batches=MAX_BATCHES,
                                 **_dead_host_kw()))
    return wh


def test_breaker_equals_oracle_with_dead_host(spark, dead_host_wh):
    spec = synthetic.WebSpec(scale=SCALE, dead_hosts=(DEAD,))
    seeds = _dead_seed_urls(spec)
    wh = dead_host_wh
    ora = crawl_oracle(spec, max_batches=MAX_BATCHES, budget_override=2,
                       seed_urls=seeds, failure_trip_threshold=THRESHOLD,
                       failure_trip_cooldown=COOLDOWN)

    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    seen = {r["url"] for r in cat.read("urlseen", m).collect()}
    prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"])
            for r in cat.read("progress", m).collect()}
    assert seen == ora.seen
    assert prog == {(u, b, a, o) for (u, b, a, o, _s) in ora.progress}

    # the breaker actually bit: the dead host's 3rd active batch is the
    # half-open probe, a full cooldown after the trip (not the very next
    # batch the backoff would otherwise allow)
    acts = sorted(
        r["batch_id"] for r in cat.read("metrics", m).collect()
        if r["host"] == DEAD and r["n_scheduled"] > 0
    )
    assert len(acts) >= 3
    assert acts[1] == acts[0] + 1  # pre-trip: scheduled back to back
    assert acts[2] - acts[1] == COOLDOWN + 1  # probe waits out the cooldown
    # every dead-host fetch failed terminally or retried; none succeeded
    assert all(
        r["n_ok"] == 0 for r in cat.read("metrics", m).collect()
        if r["host"] == DEAD
    )


def test_breaker_never_trips_equals_baseline(spark, tmp_path):
    """With a threshold no healthy host can reach, the breaker must be a
    pure no-op: identical crawl to the no-breaker baseline oracle."""
    spec = synthetic.WebSpec(scale=SCALE)
    wh = str(tmp_path / "wh_cb_noop")
    run_crawl(spark, CrawlConfig(
        warehouse=wh, spec=spec, max_batches=12,
        budget_override=4, compact_every=4,
        failure_trip_threshold=99,
    ))
    ora = crawl_oracle(spec, max_batches=12, budget_override=4)
    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    seen = {r["url"] for r in cat.read("urlseen", m).collect()}
    prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"])
            for r in cat.read("progress", m).collect()}
    assert seen == ora.seen
    assert prog == {(u, b, a, o) for (u, b, a, o, _s) in ora.progress}


def test_breaker_resume_equality(spark, tmp_path, dead_host_wh):
    """The breaker's only state is the persisted metrics log, so a crawl
    interrupted mid-cooldown and resumed must land on the identical final
    state (no hidden driver-side trip state to lose)."""
    kw = _dead_host_kw()
    wh_res = str(tmp_path / "wh_res")
    run_crawl(spark, CrawlConfig(  # interrupted mid-cooldown
        warehouse=wh_res, max_batches=4, **kw))
    run_crawl(spark, CrawlConfig(
        warehouse=wh_res, max_batches=MAX_BATCHES, **kw), resume=True)

    def _state(wh):
        cat = SnapshotCatalog(spark, wh)
        m = cat.latest()
        seen = {r["url"] for r in cat.read("urlseen", m).collect()}
        prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"])
                for r in cat.read("progress", m).collect()}
        return seen, prog

    assert _state(dead_host_wh) == _state(wh_res)
