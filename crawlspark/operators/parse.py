"""Parse stage: fetched pages → link rows + document rows (one pass).

Reference analog: ``parse`` / ``parse_articles`` / ``get_next_pages`` /
``get_article_content`` (covid_news_spider.py:881-2471).  ``_parse_row``
turns one fetched page into 'link' and 'doc' records (schemas.PARSED
columns); the fused fetch/parse stage (operators/pipeline.py) calls it
once per fetched page, like the reference's single callback per response,
and downstream filters split the two paths.
"""

from __future__ import annotations

import re

from crawlspark import html_parse, synthetic
from crawlspark.functions import urls as U


def _parse_row(url: str, host: str, depth: int, page_kind: str, status: int, body: str, meta,
               entire_site: bool = True, strip_tracking: bool = False,
               obey_meta_robots: bool = False,
               use_canonical_link: bool = False,
               use_feeds: bool = False,
               obey_link_rel: bool = False):
    out = []

    def _canon(href: str) -> str:
        # optional dedup-side normalizer AFTER the reference-pinned
        # fix_url chain (cfg.strip_tracking; default off so seen-set
        # equality vs the reference is untouched)
        c = U.fix_url_py(href, url)
        return U.strip_tracking_params_py(c) if strip_tracking else c

    def rec(**kw):
        base = {
            "rec": None, "url": url, "host": host, "depth": depth,
            "page_kind": page_kind, "status": status, "link": None,
            "link_kind": None, "meta": None, "title": None,
            "date_raw": None, "spans": None,
        }
        base.update(kw)
        return base

    if status != 200 or not body:
        return out
    # robots META gate (page-level REP; cfg.obey_meta_robots, default off
    # — the reference stack doesn't honor it): nofollow suppresses every
    # link record from this page, noindex suppresses its doc record
    no_follow = no_index = False
    if obey_meta_robots and page_kind not in ("sitemap", "feed"):
        d = html_parse.meta_robots_directives(body)
        no_follow = "nofollow" in d or "none" in d
        no_index = "noindex" in d or "none" in d
    # URL path, for PATH-QUALIFIED rule keys (reference branches keyed on
    # the url, not the host: 'bernama.com/en/' in response.url :779)
    path = U.path_of_py(url)
    if page_kind == "listing" and no_follow:
        pass  # every outgoing link suppressed; listings emit nothing else
    elif page_kind == "listing":
        cards = html_parse.extract_listing_cards(body, host, path)
        card_links = set()
        for c in cards:
            canon = _canon(c["link"])
            card_links.add(canon)
            out.append(
                rec(rec="link", link=canon, link_kind="article",
                    meta={"title": c["title"], "date": c["date"], "article_url": canon})
            )
        more = (html_parse.extract_links(body) if entire_site
                else html_parse.extract_targeted_links(body, host, path))
        if obey_link_rel:
            # per-anchor REP gate (cfg.obey_link_rel, default off): hrefs
            # carried ONLY by rel=nofollow/sponsored/ugc anchors leave the
            # frontier walk; listing CARDS are the site's curated article
            # surface and stay (the gate targets the generic anchor walk,
            # where ad/UGC/cross-promo links live).  Raw-href match, same
            # as the anchors the walk itself returned.
            rb = html_parse.rel_blocked_hrefs(body)
            more = [u for u in more if u not in rb]
        for href in more:
            canon = _canon(href)
            if canon in card_links:
                continue  # already emitted with meta
            kind, _, _ = synthetic.classify_url(canon)
            out.append(rec(rec="link", link=canon,
                           link_kind=U.link_kind_py(kind)))
        if use_feeds:
            # feed autodiscovery (HEAD <link type="application/rss+xml">,
            # invisible to the a@href walk above): the advertised feed
            # joins the frontier as a fetch-and-extract surface
            for href in html_parse.feed_autodiscovery_hrefs(body):
                canon = _canon(href)
                kind, _, _ = synthetic.classify_url(canon)
                out.append(rec(rec="link", link=canon,
                               link_kind=U.link_kind_py(kind)))
    elif page_kind == "feed":
        # RSS/Atom entries → link rows carrying feed-declared meta
        # (title + published date), exactly like listing cards — a page
        # whose own markup lacks a date can still pass the date gate on
        # its feed entry, the same fallback chain cards provide.  The
        # entry grammar is shared with the feed_entries_parse query's
        # oracle twin (sources/feeds.py).
        from crawlspark.sources.feeds import feed_entries_py

        for e in feed_entries_py(body):
            canon = _canon(e["url"])
            kind, _, _ = synthetic.classify_url(canon)
            lk = U.link_kind_py(kind)
            m = ({"title": e["title"], "date": e["published"],
                  "article_url": canon} if lk == "article" else None)
            out.append(rec(rec="link", link=canon, link_kind=lk, meta=m))
    elif page_kind == "sitemap":
        # sitemaps.org <urlset> → link rows (sitemap intake surface; the
        # loc grammar is the same one sitemap_urlset_parse proves against
        # its oracle).  Links classify like any listing-discovered link
        # and dedup through the standard seen-set path downstream.
        for loc in re.findall(r"<loc>(.*?)</loc>", body):
            canon = _canon(loc.strip())
            kind, _, _ = synthetic.classify_url(canon)
            out.append(rec(rec="link", link=canon,
                           link_kind=U.link_kind_py(kind)))
    else:  # article
        art = html_parse.extract_article(body, host, path)
        if art["redirect_url"] and no_follow:
            pass  # the redirect hop is a link; nofollow suppresses it
        elif art["redirect_url"]:
            canon = _canon(art["redirect_url"])
            out.append(
                rec(rec="link", link=canon, link_kind="article",
                    meta={"title": art["title"], "date": art["date_raw"], "article_url": canon})
            )
        elif no_index:
            pass  # fetched and seen, but not indexed: no doc record
        else:
            title = art["title"] or (meta or {}).get("title")
            date_raw = art["date_raw"] or (meta or {}).get("date")
            # rel=canonical doc keying (cfg.use_canonical_link): URL
            # aliases of one article collapse to a single doc_id — the
            # in-batch dropDuplicates and the cross-batch anti-join
            # (crawl.py docs path) already dedup on doc_id, so no new
            # machinery is needed downstream
            doc_url = url
            if use_canonical_link:
                ch = html_parse.rel_canonical_href(body)
                if ch:
                    doc_url = _canon(ch)
            out.append(
                rec(rec="doc", url=doc_url, title=title, date_raw=date_raw,
                    spans=[
                        {"kind": k, "text": t, "media_ref": m, "offset": i}
                        for i, (k, t, m) in enumerate(art["spans"])
                    ])
            )
    return out

