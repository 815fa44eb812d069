"""Conditional revalidation of stale cache entries (cfg.revalidate_stale —
the HTTP 304 / RFC 7232 If-None-Match analog over the fetched log's
decoded-body hash), plus the WebSpec.epoch content-mutation substrate it
is tested against.

Contract (crawl.py): a scheduled article whose cache entry expired is
still fetched, but when the fresh body hash equals the latest logged hash
the row retires as terminal 'revalidated' — no doc/link parse rows — and
its fetch-log append renews the entry's snap_id (restarting the fixed
staleness window and extending the adaptive unchanged-streak).  Changed
pages keep outcome 'done' and parse normally.
"""

from pyspark.sql import functions as F

from crawlspark import rules, synthetic
from crawlspark.crawl import CrawlConfig, reset_for_recrawl, run_crawl
from crawlspark.functions.transfer import body_hash_py, decode_body_py
from crawlspark.operators.freshness import freshness_state
from crawlspark.tables import SnapshotCatalog

SCALE = 0.1
BUDGET = 20


def _clean_hash(spec, url):
    """Body hash at the first clean 200, retrying like the engine does
    (some synthetic pages 503/garble on early attempts by design)."""
    for attempt in range(rules.MAX_RETRIES + 1):
        st, _fu, raw, enc, _el = synthetic.fetch_encoded(spec, url, attempt)
        body, err = decode_body_py(raw, enc)
        if st == 200 and not err:
            return body_hash_py(body)
    return None


def test_epoch_substrate_deterministic_mutation():
    """WebSpec.epoch: epoch 0 is byte-identical to the default web; epoch
    N>0 changes exactly the hash-selected non-redirect articles, with
    per-epoch-varying text; listings never change."""
    s0 = synthetic.WebSpec(scale=SCALE)
    s0e = synthetic.WebSpec(scale=SCALE, epoch=0)
    s1 = synthetic.WebSpec(scale=SCALE, epoch=1)
    s2 = synthetic.WebSpec(scale=SCALE, epoch=2)
    n_changed = 0
    for host, cfg in s0.hosts.items():
        for aid in range(cfg["n_articles"]):
            h0 = synthetic.article_html(s0, host, aid)
            assert synthetic.article_html(s0e, host, aid) == h0
            h1 = synthetic.article_html(s1, host, aid)
            h2 = synthetic.article_html(s2, host, aid)
            selected = synthetic._h("epoch-mut", host, aid) % 3 == 0
            redirect = "Click here for article" in h0
            if selected and not redirect:
                assert h1 != h0 and h2 != h0 and h2 != h1
                assert f"Update 1:" in h1 and f"Update 2:" in h2
                n_changed += 1
            else:
                assert h1 == h0 and h2 == h0
        # listings are never mutated
        page0 = synthetic.listing_html(s0, host, 0, 0)
        assert synthetic.listing_html(s1, host, 0, 0) == page0
    assert n_changed > 0


def test_revalidate_stale_retires_unchanged_articles(spark, tmp_path, epoch1_copy):
    """E2E: epoch-1 crawl, then an epoch-2 recrawl over a mutated web with
    a tight staleness window (everything stale) and revalidate_stale on —
    unchanged cached articles retire 'revalidated' (log renewed, same
    hash, adaptive streak extended, no doc rows), changed ones refetch
    as 'done'."""
    wh = str(tmp_path / "wh_reval")
    spec0 = synthetic.WebSpec(scale=SCALE)
    s1 = epoch1_copy(wh)  # epoch 1 at SCALE and BUDGET, shared with test_crawl_e2e
    assert s1["revalidated"] == 0
    cat = SnapshotCatalog(spark, wh)
    art1 = {r["url"] for r in cat.read("fetched").select("url").collect()
            if "/news/" in r["url"]}
    assert art1

    spec1 = synthetic.WebSpec(scale=SCALE, epoch=1)
    cfg2 = CrawlConfig(warehouse=wh, spec=spec1, max_batches=30,
                       budget_override=BUDGET, compact_every=4,
                       use_fetch_cache=True, fetch_cache_max_age_snaps=2,
                       revalidate_stale=True)
    reset_for_recrawl(spark, cfg2)
    s2 = run_crawl(spark, cfg2, resume=True)
    assert s2["revalidated"] > 0 and s2["refetch_skipped"] == 0

    prog = cat.read("progress")
    reval = {r["url"] for r in prog.filter("outcome = 'revalidated'").collect()}
    done = {r["url"] for r in prog.filter("outcome = 'done'").collect()}
    assert len(reval) == s2["revalidated"]
    assert reval <= art1  # only logged articles can revalidate

    # independent expectation straight from the synthetic web
    changed = {u for u in art1 if _clean_hash(spec0, u) != _clean_hash(spec1, u)}
    assert changed, "the epoch substrate must change some cached articles"
    assert not (reval & changed), "a changed page must never revalidate"
    assert changed <= done, "changed cached articles must fully refetch"
    assert reval == art1 - changed, "every unchanged stale article revalidates"

    # renewal: each revalidated url gained a fetched row at a NEWER snap
    # with the SAME hash — and the adaptive streak sees it as unchanged
    fetched = cat.read("fetched").filter(F.col("url").isin(list(reval)))
    per = fetched.groupBy("url").agg(
        F.countDistinct("snap_id").alias("n_snaps"),
        F.countDistinct("body_hash").alias("n_hashes"),
    ).collect()
    assert per and all(r["n_snaps"] >= 2 and r["n_hashes"] == 1 for r in per)
    st = {r["url"]: r for r in freshness_state(
        cat.read("fetched").select(
            "url",
            F.coalesce("snap_id", F.lit(0)).cast("long").alias("snap_id"),
            F.coalesce("body_hash", F.lit("")).alias("body_hash"),
        )).filter(F.col("url").isin(list(reval))).collect()}
    assert all(st[u]["unchanged_streak"] >= 1 for u in reval)

    # no doc-side effect: doc identity is append-only, and a revalidated
    # page contributes no parse rows — document count is unchanged
    assert s2["n_documents"] == s1["n_documents"]
    docs = cat.read("documents")
    assert docs.count() == docs.select("doc_id").distinct().count()


def test_revalidate_default_off_and_inert_when_fresh(spark, tmp_path):
    """Flag off: stale articles refetch as 'done' (no 'revalidated'
    outcome anywhere).  Flag on with everything fresh: the cache serves
    first, so nothing revalidates.  Flag on without use_fetch_cache:
    inert by construction."""
    wh = str(tmp_path / "wh_reval_off")
    spec0 = synthetic.WebSpec(scale=SCALE)
    cfg1 = CrawlConfig(warehouse=wh, spec=spec0, max_batches=20,
                       budget_override=BUDGET, compact_every=4,
                       revalidate_stale=True)  # no use_fetch_cache: inert
    s1 = run_crawl(spark, cfg1)
    assert s1["revalidated"] == 0
    cat = SnapshotCatalog(spark, wh)

    # flag OFF, tight window: stale articles refetch fully
    cfg2 = CrawlConfig(warehouse=wh, spec=spec0, max_batches=30,
                       budget_override=BUDGET, compact_every=4,
                       use_fetch_cache=True, fetch_cache_max_age_snaps=2)
    reset_for_recrawl(spark, cfg2)
    s2 = run_crawl(spark, cfg2, resume=True)
    assert s2["revalidated"] == 0
    assert cat.read("progress").filter("outcome = 'revalidated'").count() == 0

    # flag ON, loose window: everything fresh -> served as 'cached'
    cfg3 = CrawlConfig(warehouse=wh, spec=spec0, max_batches=30,
                       budget_override=BUDGET, compact_every=4,
                       use_fetch_cache=True, fetch_cache_max_age_snaps=10_000,
                       revalidate_stale=True)
    reset_for_recrawl(spark, cfg3)
    s3 = run_crawl(spark, cfg3, resume=True)
    assert s3["revalidated"] == 0 and s3["refetch_skipped"] > 0
