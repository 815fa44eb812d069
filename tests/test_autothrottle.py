"""cfg.autothrottle e2e: latency-adaptive per-host budgets (Scrapy
AutoThrottle semantics at batch granularity — reference settings scaffold
settings.py:71-80).  The engine's grouped-map fold and the oracle share
autothrottle_fold_py, so equality here proves the metrics histories the
two sides fold are identical, batch for batch."""

import pytest

from crawlspark import rules, synthetic
from crawlspark.crawl import CrawlConfig, run_crawl
from crawlspark.operators.scheduler import (
    apply_autothrottle,
    autothrottle_fold_py,
)
from crawlspark.oracle import crawl_oracle
from crawlspark.tables import SnapshotCatalog

SCALE = 0.1
MAX_BATCHES = 25


def test_fold_recurrence_properties():
    kw = dict(min_delay_ms=500)
    # cautious first contact
    assert autothrottle_fold_py([], **kw) == rules.AUTOTHROTTLE_START_DELAY_MS
    # fast host converges to the robots floor, never below it
    hist = [(i, 10, 1000) for i in range(1, 30)]
    assert autothrottle_fold_py(hist, **kw) == 500
    # slow host converges toward its latency, clamped at max
    slow = [(i, 2, 400_000) for i in range(1, 30)]
    assert autothrottle_fold_py(slow, **kw) == rules.AUTOTHROTTLE_MAX_DELAY_MS
    # fold is order-independent (sorted inside)
    assert autothrottle_fold_py(list(reversed(hist)), **kw) == 500


def test_engine_fold_matches_python(spark):
    hosts = spark.createDataFrame(
        [("h1", 0.5, 60, [], []), ("h2", 2.0, 15, [], [])],
        "host string, crawl_delay_s double, budget_per_batch int, "
        "robots_disallow array<string>, robots_allow array<string>",
    )
    metrics = spark.createDataFrame(
        [("h1", 1, 6, 600), ("h1", 2, 12, 2400), ("h2", 1, 3, 90_000)],
        "host string, batch_id int, n_scheduled long, sum_elapsed_ms long",
    )
    out = {
        r["host"]: r["budget_per_batch"]
        for r in apply_autothrottle(hosts, metrics).collect()
    }
    period_ms = int(rules.BATCH_PERIOD_S * 1000)
    for host, min_d, hist in (
        ("h1", 500, [(1, 6, 600), (2, 12, 2400)]),
        ("h2", 2000, [(1, 3, 90_000)]),
    ):
        d = autothrottle_fold_py(hist, min_delay_ms=min_d)
        assert out[host] == max(1, period_ms // d), host


@pytest.fixture(scope="module")
def throttled_wh(spark, tmp_path_factory):
    """One uninterrupted autothrottle crawl, read (never written) by the
    tests below."""
    wh = str(tmp_path_factory.mktemp("wh_at"))
    run_crawl(spark, CrawlConfig(
        warehouse=wh, spec=synthetic.WebSpec(scale=SCALE),
        max_batches=MAX_BATCHES, compact_every=4, autothrottle=True,
    ))
    return wh


def test_autothrottle_equals_oracle_and_speeds_up(spark, throttled_wh):
    spec = synthetic.WebSpec(scale=SCALE)
    wh = throttled_wh
    ora = crawl_oracle(spec, max_batches=MAX_BATCHES, autothrottle=True)

    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    seen = {r["url"] for r in cat.read("urlseen", m).collect()}
    prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"])
            for r in cat.read("progress", m).collect()}
    assert seen == ora.seen
    assert prog == {(u, b, a, o) for (u, b, a, o, _s) in ora.progress}

    # the throttle actually throttled then sped up: batch-1 per-host
    # fetch counts obey the cautious initial budget (30s/5s = 6), and
    # some later batch exceeds it once latencies fold the delay down
    per = {}
    for r in cat.read("metrics", m).collect():
        per[(r["batch_id"], r["host"])] = r["n_scheduled"]
    b1 = [n for (b, h), n in per.items() if b == 1]
    assert b1 and max(b1) <= 6
    assert max(n for (b, h), n in per.items() if b > 1) > 6


def test_autothrottle_resume_equality(spark, tmp_path, throttled_wh):
    """The throttle state is nothing but a fold over the persisted
    metrics log, so a crawl interrupted mid-throttle-ramp and resumed
    must land on the identical final state (no hidden driver-side delay
    state to lose)."""
    spec = synthetic.WebSpec(scale=SCALE)
    wh_res = str(tmp_path / "wh_res")
    run_crawl(spark, CrawlConfig(  # interrupted mid-ramp
        warehouse=wh_res, spec=spec, max_batches=2,
        compact_every=4, autothrottle=True,
    ))
    run_crawl(spark, CrawlConfig(
        warehouse=wh_res, spec=spec, max_batches=MAX_BATCHES,
        compact_every=4, autothrottle=True,
    ), resume=True)

    def _state(wh):
        cat = SnapshotCatalog(spark, wh)
        m = cat.latest()
        seen = {r["url"] for r in cat.read("urlseen", m).collect()}
        prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"])
                for r in cat.read("progress", m).collect()}
        return seen, prog

    assert _state(throttled_wh) == _state(wh_res)
