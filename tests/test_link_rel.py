"""cfg.obey_link_rel e2e: on a synthetic web whose nav anchors carry
rel=nofollow / sponsored attributes (WebSpec.rel_nofollow=True), the
engine must equal the oracle with the gate on AND off, the gate must
actually shrink the frontier (rel-blocked discovery paths close), and
the default walk must treat rel'd anchors as plain links (control run
follows them)."""

import pytest

from crawlspark import synthetic
from crawlspark.crawl import CrawlConfig, run_crawl
from crawlspark.html_parse import rel_blocked_hrefs
from crawlspark.oracle import crawl_oracle
from crawlspark.tables import SnapshotCatalog

SCALE = 0.1
BUDGET = 15
MAX_BATCHES = 20


def test_rel_blocked_hrefs_per_anchor_semantics():
    html = (
        '<a href="/a">plain</a>'
        '<a rel="nofollow" href="/b">ad</a>'
        '<a rel="sponsored noopener" href="/c">sp</a>'
        '<a rel="ugc" href="/d">comment</a>'
        '<a rel="noopener" href="/e">popup</a>'
        # /b is ALSO carried by a plain anchor: per-anchor semantics keep it
        '<a href="/b">same target, plain</a>'
    )
    assert rel_blocked_hrefs(html) == {"/c", "/d"}
    assert rel_blocked_hrefs("<a href='/x'>y</a>") == set()


@pytest.fixture(scope="module")
def gated_wh(spark, tmp_path_factory):
    """One uninterrupted obey_link_rel=True crawl, read (never written) by
    the tests below."""
    wh = str(tmp_path_factory.mktemp("wh_rel_on"))
    run_crawl(spark, CrawlConfig(
        warehouse=wh, spec=synthetic.WebSpec(scale=SCALE, rel_nofollow=True),
        max_batches=MAX_BATCHES, budget_override=BUDGET, compact_every=4,
        obey_link_rel=True,
    ))
    return wh


def _seen(spark, wh):
    cat = SnapshotCatalog(spark, wh)
    return {r["url"] for r in cat.read("urlseen", cat.latest()).collect()}


def test_link_rel_gate_resume_equals_uninterrupted(spark, tmp_path, gated_wh):
    """The gate is stateless (a per-page set subtraction inside the fused
    stage), so an interrupted gated crawl must resume to EXACTLY the
    uninterrupted gated run — the north rule's checkpoint contract holds
    for the newest wired flag too."""
    spec = synthetic.WebSpec(scale=SCALE, rel_nofollow=True)
    wh_res = str(tmp_path / "wh_res")
    run_crawl(spark, CrawlConfig(
        warehouse=wh_res, spec=spec, max_batches=2,
        budget_override=BUDGET, compact_every=4, obey_link_rel=True,
    ))
    run_crawl(spark, CrawlConfig(
        warehouse=wh_res, spec=spec, max_batches=MAX_BATCHES,
        budget_override=BUDGET, compact_every=4, obey_link_rel=True,
    ), resume=True)
    assert _seen(spark, gated_wh) == _seen(spark, wh_res)


def test_link_rel_gate_equals_oracle_and_binds(spark, tmp_path, gated_wh):
    spec = synthetic.WebSpec(scale=SCALE, rel_nofollow=True)

    # gate ON: engine == oracle
    seen_on = _seen(spark, gated_wh)
    ora_on = crawl_oracle(spec, max_batches=MAX_BATCHES,
                          budget_override=BUDGET, obey_link_rel=True)
    assert seen_on == ora_on.seen

    # gate OFF on the same rel-decorated web (control): engine == oracle,
    # and rel'd anchors are followed like plain links — the frontier is a
    # strict superset of the gated run's
    wh2 = str(tmp_path / "wh_rel_off")
    run_crawl(spark, CrawlConfig(
        warehouse=wh2, spec=spec, max_batches=MAX_BATCHES,
        budget_override=BUDGET, compact_every=4, obey_link_rel=False,
    ))
    seen_off = _seen(spark, wh2)
    ora_off = crawl_oracle(spec, max_batches=MAX_BATCHES,
                           budget_override=BUDGET, obey_link_rel=False)
    assert seen_off == ora_off.seen
    assert seen_on < seen_off, "gate should close some discovery paths"


def test_listing_body_parsed_once(monkeypatch):
    """A listing body is parsed into a tree once per page, with or without
    the rel gate: the card, link and rel-gate extractors all read the tree
    parse_html keeps.  The link views themselves are pinned on every
    anchor shape: plain, rel-blocked, mixed-carrier, onclick-only, and the
    onclick URL that also appears on a blocked anchor."""
    from crawlspark import html_parse as hp
    from crawlspark.operators.parse import _parse_row

    html = (
        '<a href="/plain">x</a>'
        '<a rel="nofollow" href="/blocked">y</a>'
        '<a rel="sponsored UGC" href="/blocked2">y2</a>'
        '<a rel="nofollow" href="/both">z</a><a href="/both">z2</a>'
        '<a onclick="window.open(\'/clicky\')">c</a>'
        '<a rel="nofollow" href="/clicky">c2</a>'
        '<a rel="me noopener" href="/odd-rel">w</a>'
        '<a>no-attrs</a>'
    )
    assert hp.extract_links(html) == [
        "/plain", "/blocked", "/blocked2", "/both", "/both", "/clicky", "/clicky", "/odd-rel"]
    # "/clicky" is href-carried on a nofollow anchor; its onclick carrier
    # does not whitelist it under the href-level subtraction semantics
    assert hp.rel_blocked_hrefs(html) == {"/blocked", "/blocked2", "/clicky"}

    spec = synthetic.WebSpec(scale=SCALE, rel_nofollow=True)
    host = next(iter(spec.hosts))
    url = synthetic.listing_url(host, 0, 0)
    body = synthetic.listing_html(spec, host, 0, 0)
    feeds = []
    real_feed = hp._TreeBuilder.feed
    monkeypatch.setattr(hp._TreeBuilder, "feed",
                        lambda self, data: feeds.append(1) or real_feed(self, data))
    for gate in (False, True):
        hp.parse_html.cache_clear()
        feeds.clear()
        recs = _parse_row(url, host, 0, "listing", 200, body, None, obey_link_rel=gate)
        assert recs and len(feeds) == 1, (gate, len(feeds))
