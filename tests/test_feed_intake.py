"""RSS/Atom feed intake (cfg.use_feeds): listing-head autodiscovery links
enqueue each feed as a fetch-and-extract frontier row, feed entries become
article links carrying feed-declared meta, and ORPHAN pages no listing
links to get crawled — default-off, so the oracle-equality e2e contract
is untouched.  Covers BOTH grammars end-to-end: www.mnow.example serves
RSS 2.0, www.inq.example serves Atom."""

import pyspark.sql.functions as F
import pytest

from crawlspark import synthetic
from crawlspark.crawl import CrawlConfig, run_crawl
from crawlspark.sources.feeds import feed_entries_py, feed_kind_py
from crawlspark.tables import SnapshotCatalog

SCALE = 0.05
RSS_HOST = "www.mnow.example"
ATOM_HOST = "www.inq.example"


def _spec():
    return synthetic.WebSpec(scale=SCALE, feeds=True)


def _orphan_urls(spec, host):
    n = spec.hosts[host]["n_articles"]
    return [synthetic.article_url(host, n + i)
            for i in range(synthetic.N_ORPHANS)]


@pytest.fixture(scope="module")
def feed_wh(spark, tmp_path_factory):
    """One use_feeds=True crawl, read (never written) by the tests below."""
    wh = str(tmp_path_factory.mktemp("wh_feed"))
    run_crawl(spark, CrawlConfig(warehouse=wh, spec=_spec(), max_batches=20,
                                 budget_override=15, use_feeds=True))
    return wh


def _state(spark, wh):
    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    prog = {(r["url"], r["outcome"])
            for r in cat.read("progress", m).collect()}
    doc_urls = {r["url"] for r in cat.read("documents", m).collect()}
    return prog, doc_urls


def test_feed_parser_both_grammars():
    """The shared entry parser handles both grammars the synthetic web
    serves; link, title, and date fields all populate."""
    spec = _spec()
    rss = synthetic.feed_xml(spec, RSS_HOST)
    atom = synthetic.feed_xml(spec, ATOM_HOST)
    assert feed_kind_py(rss) == "rss" and feed_kind_py(atom) == "atom"
    for host, xml in ((RSS_HOST, rss), (ATOM_HOST, atom)):
        entries = feed_entries_py(xml)
        n = spec.hosts[host]["n_articles"]
        want = [synthetic.article_url(host, a)
                for a in list(range(n, n + synthetic.N_ORPHANS)) + [0]]
        assert [e["url"] for e in entries] == want
        assert all(e["title"] and e["published"] for e in entries)


def test_feed_discovery_reaches_orphans(spark, feed_wh):
    """use_feeds=True: each feed is discovered from its host's listing
    head, fetched like any frontier row, and every orphan article it
    lists is fetched; orphans still pass through the standard document
    admission filters (feed intake widens REACH, not the rules)."""
    spec, wh = _spec(), feed_wh
    prog, doc_urls = _state(spark, wh)
    for host in (RSS_HOST, ATOM_HOST):
        fu = synthetic.feed_url(host)
        assert (fu, "done") in prog, fu
        for u in _orphan_urls(spec, host):
            assert (u, "done") in prog, u
        # the feed page itself is a link surface, never a document
        assert fu not in doc_urls
    # at least one orphan passes the keyword/date gates and lands as a
    # document (deterministic synthetic content)
    orphans = _orphan_urls(spec, RSS_HOST) + _orphan_urls(spec, ATOM_HOST)
    assert any(u in doc_urls for u in orphans)
    # feed-listed ALREADY-REACHABLE url (aid 0) deduped through the
    # normal seen-set path: exactly one terminal fetch record
    cat = SnapshotCatalog(spark, wh)
    for host in (RSS_HOST, ATOM_HOST):
        a0 = synthetic.article_url(host, 0)
        n_a0 = (cat.read("progress", cat.latest())
                .filter(F.col("url") == a0)
                .filter(F.col("outcome").isin("done", "cached")).count())
        assert n_a0 == 1, (host, n_a0)


def test_feed_engine_equals_oracle(spark, feed_wh):
    """Feed mode is oracle-verified like the default mode: engine with
    use_feeds=True lands on exactly the single-threaded oracle's seen
    set, per-batch crawl order, and doc ids."""
    from crawlspark.oracle import crawl_oracle

    ora = crawl_oracle(_spec(), max_batches=20, budget_override=15,
                       use_feeds=True)
    cat = SnapshotCatalog(spark, feed_wh)
    m = cat.latest()
    seen = {r["url"] for r in cat.read("urlseen", m).collect()}
    prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"])
            for r in cat.read("progress", m).collect()}
    docs = {r["doc_id"] for r in cat.read("documents", m).collect()}
    assert seen == ora.seen
    assert prog == {(u, b, a, o) for (u, b, a, o, s) in ora.progress}
    assert docs == set(ora.docs)


def test_feeds_off_by_default(spark, tmp_path):
    """Default config on a feed-bearing web: the autodiscovery link is a
    HEAD tag the a@href walk never sees — no feed fetch, no orphan
    documents.  The engine's oracle-equality contract is defined without
    feed intake."""
    spec = _spec()
    wh = str(tmp_path / "wh_nofeed")
    run_crawl(spark, CrawlConfig(warehouse=wh, spec=spec, max_batches=20,
                                 budget_override=15))
    prog, doc_urls = _state(spark, wh)
    feed_urls = {synthetic.feed_url(RSS_HOST), synthetic.feed_url(ATOM_HOST)}
    assert all(u not in feed_urls for (u, _) in prog)
    orphans = set(_orphan_urls(spec, RSS_HOST)) | set(
        _orphan_urls(spec, ATOM_HOST))
    assert not (orphans & doc_urls)
