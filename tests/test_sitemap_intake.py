"""Sitemap seed discovery (cfg.use_sitemaps): robots-declared sitemaps
enqueue as frontier rows, their <urlset> bodies parse into links, and
ORPHAN pages no listing links to get crawled — default-off, so the
oracle-equality e2e contract is untouched."""

import pyspark.sql.functions as F
import pytest

from crawlspark import synthetic
from crawlspark.crawl import CrawlConfig, run_crawl
from crawlspark.tables import SnapshotCatalog

SCALE = 0.05
HOST = "www.bpost.example"


def _spec():
    return synthetic.WebSpec(scale=SCALE)


def _orphan_urls(spec):
    n = spec.hosts[HOST]["n_articles"]
    return [synthetic.article_url(HOST, n + i)
            for i in range(synthetic.N_ORPHANS)]


@pytest.fixture(scope="module")
def sitemap_wh(spark, tmp_path_factory):
    """One use_sitemaps=True crawl, read (never written) by the tests below."""
    wh = str(tmp_path_factory.mktemp("wh_sm"))
    run_crawl(spark, CrawlConfig(warehouse=wh, spec=_spec(), max_batches=20,
                                 budget_override=15, use_sitemaps=True))
    return wh


def _state(spark, wh):
    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    prog = {(r["url"], r["outcome"])
            for r in cat.read("progress", m).collect()}
    doc_urls = {r["url"] for r in cat.read("documents", m).collect()}
    return prog, doc_urls


def test_sitemap_discovery_reaches_orphans(spark, sitemap_wh):
    """use_sitemaps=True: the sitemap URL is fetched like any frontier row
    and every orphan article it lists becomes a document."""
    spec, wh = _spec(), sitemap_wh
    prog, doc_urls = _state(spark, wh)
    sm = synthetic.sitemap_url(HOST)
    assert (sm, "done") in prog
    orphans = _orphan_urls(spec)
    for u in orphans:
        assert (u, "done") in prog, u
    # discovered pages still pass through the standard document filters:
    # orphans 3 and 4 carry keywords and land as documents; orphan 5's
    # body happens not to (deterministic synthetic content), so it is
    # fetched but correctly dropped by the keyword gate — sitemap intake
    # widens REACH, not the admission rules
    in_docs = [u for u in orphans if u in doc_urls]
    assert orphans[0] in in_docs and orphans[1] in in_docs
    assert len(in_docs) < len(orphans)
    # the sitemap page itself is a link surface, never a document
    assert sm not in doc_urls
    # sitemap-listed ALREADY-REACHABLE url (aid 0) deduped through the
    # normal seen-set path: exactly one terminal fetch record
    a0 = synthetic.article_url(HOST, 0)
    cat = SnapshotCatalog(spark, wh)
    n_a0 = (cat.read("progress", cat.latest())
            .filter(F.col("url") == a0)
            .filter(F.col("outcome").isin("done", "cached")).count())
    assert n_a0 == 1


def test_sitemap_engine_equals_oracle(spark, sitemap_wh):
    """Sitemap mode is oracle-verified like the default mode: engine with
    use_sitemaps=True lands on exactly the single-threaded oracle's seen
    set, per-batch crawl order, and doc ids (the intake path joins the
    equality contract, not just the reach assertions above)."""
    from crawlspark.oracle import crawl_oracle

    ora = crawl_oracle(_spec(), max_batches=20, budget_override=15,
                       use_sitemaps=True)
    cat = SnapshotCatalog(spark, sitemap_wh)
    m = cat.latest()
    seen = {r["url"] for r in cat.read("urlseen", m).collect()}
    prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"])
            for r in cat.read("progress", m).collect()}
    docs = {r["doc_id"] for r in cat.read("documents", m).collect()}
    assert seen == ora.seen
    assert prog == {(u, b, a, o) for (u, b, a, o, s) in ora.progress}
    assert docs == set(ora.docs)


def test_sitemaps_off_by_default(spark, tmp_path):
    """Default config: no sitemap fetch, no orphan documents — the engine's
    oracle-equality contract is defined without sitemap intake."""
    spec = _spec()
    wh = str(tmp_path / "wh_nosm")
    run_crawl(spark, CrawlConfig(warehouse=wh, spec=spec, max_batches=20,
                                 budget_override=15))
    prog, doc_urls = _state(spark, wh)
    assert all(u != synthetic.sitemap_url(HOST) for (u, _) in prog)
    assert not (set(_orphan_urls(spec)) & doc_urls)
