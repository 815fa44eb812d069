"""Declarative per-domain extraction rules (SURVEY §2.8 F6/H2/H3 breadth).

The reference carries ~19 per-domain branches of selector chains with
or-fallbacks (covid_news_spider.py:989-1341 listing cards, :1357-1613
next-page, :2060-2432 article bodies) — e.g. the bangkokpost 4-branch
body XPaths (:1249-1286, :2283), the khmertimes entry-content chain with
exclusion predicates and "Also Read:" drops (:2325-2340), the nst
selector unions (:1070-1101).  Here every branch is DATA, not code:
adding a site touches only this table — ``html_parse`` dispatches over it
with first-match-wins (coalesce) chains for single elements and union
semantics for card selectors, exactly the reference's `a, b, c` CSS
groups.

These rules run inside Arrow-batched mapInPandas workers; the table is a
module constant shipped with the code (no broadcast needed), so per-domain
breadth costs nothing at the 1000-executor scale.
"""

from __future__ import annotations

from dataclasses import dataclass

DEFAULT_EXCLUDED = frozenset({"ad", "related", "articlePhoto", "promo"})


@dataclass(frozen=True)
class DomainRules:
    """One site's extraction behavior, declaratively."""

    host_key: str = ""  # substring matched against the page host; "" = default
    # ordered fallback chains of (tag, class-or-None) selectors, where
    # class None matches any element of the tag — FIRST match wins
    # (reference: or-chains of
    # `response.css(a) or response.css(b)`, e.g. khmertimes title fallback
    # h1 → h2.entry-title :2331-2332)
    body_chain: tuple = (("div", "article-body"), ("div", "article-content"))
    title_chain: tuple = (("h1", None),)
    date_chain: tuple = (("span", "pubdate"),)
    # div classes excluded structurally (self or ancestor; reference
    # not(ancestor::...) predicates, :2061, :2283)
    excluded_classes: frozenset = DEFAULT_EXCLUDED
    # paragraphs containing any of these substrings are dropped (reference
    # khmertimes not(contains(., "Also Read:")) :2325)
    drop_text_containing: tuple = ()
    # <strong>/<b> content removed from paragraph text (reference inquirer
    # DOM surgery :2113-2134)
    drop_strong: bool = False
    # "shallow tail": for the LAST n eligible paragraphs, additionally drop
    # content of the listed tags — the khmertimes XPath takes //text() for
    # all but the last two paragraphs but only /text() | /*[not(self::em)]
    # /text() for those two (reference :2325-2328: em-tag footers)
    shallow_tail: tuple | None = None  # (n, ("em", ...))
    # paragraphs whose OWN class matches are dropped (reference thestar
    # not(contains(@class,"caption")) / "date" / "reactions__desc" /
    # "footer-bottom" p-level predicates, :2195)
    excluded_p_classes: frozenset = frozenset()
    # paragraphs CONTAINING a descendant matching any (tag, class) here are
    # dropped (reference thestar not(.//span[contains(@class,
    # "inline-caption")]), :2195)
    drop_p_with: tuple = ()
    # per-domain raw-date post-splits applied IN ORDER after the date
    # chain resolves: date = date.split(token)[index], then strip — the
    # reference's straitstimes 'PUBLISHED: '[-1] (:2082-2083), nst
    # ' @ '[0] (:2190-2191) and bangkokpost "PUBLISHED :"[-1]
    # / "published :"[-1] / " at "[0] chain (:2297-2300).  split() on an
    # absent token is a no-op, exactly like the reference's guards.
    date_splits: tuple = ()
    # suffix for the LAST stitched <li> item.  The default branches append
    # ',' between items and '.' after the last (:2139-2152); the thestar
    # branch appends ',' to every li text EXCEPT the last and leaves the
    # last bare — its trailing-fullstop line is commented out in the
    # reference (:2203-2211)
    li_tail_suffix: str = "."
    # listing-card selectors — UNION semantics, all matches in document
    # order (reference `a, b, c` CSS selector groups, :1070-1101)
    card_selectors: tuple = (("div", "card"),)
    card_date_chain: tuple = (("span", "date"),)
    # when non-empty, a card's anchor qualifies only if its text contains
    # one of these substrings (reference archive.org FULL-TEXT download
    # pill, a.format-summary.download-pill:contains("FULL TEXT"),
    # :1333-1337)
    card_text_containing: tuple = ()
    # attribute-carried cards (reference cna branch :1366-1373: a
    # div.quick-link holds its title in data-heading and its link in
    # data-link_absolute — no anchor at all).  Each entry is
    # (tag, class, link_attr, title_attr); a node matches when it carries
    # the link attribute.  Checked IN ADDITION to card_selectors, in
    # document order with them.
    card_attr_selectors: tuple = ()
    # TARGETED pagination mode (reference SEARCH_ENTIRE_WEBSITE=0,
    # :34,:175,:336,:751): None = this domain extracts every anchor even
    # in targeted mode (the cna/philstar/inquirer branches are
    # a::attr(href) getall unconditionally); a tuple = only the FIRST
    # anchor whose text contains one of the strings is followed (the
    # straitstimes branch's a:contains("Next Page")::attr(href) .get(),
    # :751-758); the EMPTY tuple = targeted mode yields NO pagination at
    # all (the mb.com.ph branch returns None outright, :765-772)
    next_page_text: tuple | None = None
    # selector-based targeted pagination (getall semantics — ALL matching
    # anchors in document order, unlike next_page_text's .get()): entries
    # are (tag, cls); tag=='a' matches the anchor's own class (go.kompas
    # div.paging__item > a.paging__link :806-808, khmertimes div#paging >
    # a.next.page-numbers :809-811), any other tag matches a CONTAINER
    # whose descendant anchors all qualify (cambodiadaily div.page-nav > a
    # :812-814, phnompenhpost / bangkokpost p.page-Navigation > a
    # :815-821, :797-802).  Takes precedence over next_page_text.
    next_page_selectors: tuple = ()
    # body-include leaves: (tag, cls_or_None, ancestor_cls_or_None) nodes
    # whose text is emitted as a text span at its document position —
    # the reference unions heading/div text nodes into some bodies
    # (thejakartapost //div[@class="tjp-opening"]/h1/text() :2302,
    # go.kompas //div[@class="read__content"]//h3//text() :2313,
    # vietnamplus div.content.article-body text :2269).  Include leaves
    # must be bare-text containers (no <p> descendants) or text double-
    # counts, exactly like the reference's XPath union would.
    body_include: tuple = ()
    # <li> punctuation stitching on/off: the default branches stitch
    # (',' between items + li_tail_suffix on the last, :2139-2152);
    # branches whose XPath takes //li//text() raw (go.kompas :2313,
    # khmertimes-style unions elsewhere) emit items verbatim
    li_stitch: bool = True
    # resolve the raw date from the LAST <p> whose text contains this
    # token, when the date chain yields nothing (phnompenhpost
    # //p[contains(text(), "Publication date")]/text() getall()[-1],
    # :2349-2369); date_splits then apply as usual
    date_p_containing: str | None = None


DEFAULT_RULES = DomainRules()

# Ordered: first host_key substring match wins.
DOMAIN_RULES: tuple[DomainRules, ...] = (
    # inquirer analog — strong/b decompose (reference :2113-2134)
    DomainRules(host_key="inq.example", drop_strong=True),
    # khmertimes analog — 4-branch body fallback, entry-navigation
    # exclusion, "Also Read:" paragraph drops, title/date fallback chains
    # (reference :2325-2340)
    DomainRules(
        host_key="ktimes.example",
        body_chain=(
            ("div", "entry-content"),
            ("div", "article-content"),
            ("div", "content-main"),
            ("div", "article-body"),
        ),
        title_chain=(("h1", None), ("h2", "entry-title")),
        date_chain=(("span", "pubdate"), ("time", "entry-time")),
        excluded_classes=DEFAULT_EXCLUDED | {"entry-navigation"},
        drop_text_containing=("Also Read:", "Also read:"),
        shallow_tail=(2, ("em",)),
        # targeted pagination div#paging > a.next.page-numbers (:809-811)
        next_page_selectors=(("a", "page-numbers"),),
    ),
    # bangkokpost analog — 4-branch body fallback + photo-div exclusion
    # (reference :1249-1286, :2270, :2283)
    DomainRules(
        host_key="bpost.example",
        body_chain=(
            ("div", "articl-content"),      # the site's typo'd variant
            ("section", "article-body"),
            ("div", "article-content"),
            ("div", "article-body"),
        ),
        date_splits=(("PUBLISHED :", -1), ("published :", -1), (" at ", 0)),
        # targeted pagination p.page-Navigation > a (:797-802)
        next_page_selectors=(("p", "page-Navigation"),),
    ),
    # nst analog — listing-card selector UNION + card-date fallback
    # (reference :1070-1101 card selector groups)
    DomainRules(
        host_key="mnow.example",
        card_selectors=(("div", "card"), ("div", "article-teaser"), ("li", "story")),
        card_date_chain=(("span", "date"), ("time", None)),
        date_splits=((" @ ", 0),),
    ),
    # thestar analog — the photo-div + li-stitching combination
    # (reference :2195-2211): p-level class exclusions, inline-caption
    # containment drops, sponsored/widget ancestor-div exclusions,
    # "ALSO READ:"/"Do you have question" text drops, and the branch's
    # li stitching variant (comma between items, NO suffix on the last)
    DomainRules(
        host_key="tstar.example",
        excluded_classes=DEFAULT_EXCLUDED
        | {"plan-temp_desc", "klci", "sponsored-panel", "for-side"},
        excluded_p_classes=frozenset(
            {"caption", "date", "reactions__desc", "footer-bottom"}
        ),
        drop_p_with=(("span", "inline-caption"),),
        drop_text_containing=("ALSO READ:", "Do you have question"),
        li_tail_suffix="",
    ),
    # malaysianow analog — anchor-in-container card set (reference
    # :1151-1165: thirteen deep selectors all terminating at `a` inside
    # div.group / li / div.flex-1 style containers; collapsed to their
    # discriminating (tag, class) leaves per the mini-DOM model)
    DomainRules(
        host_key="fmt.example",
        card_selectors=(
            ("div", "group"),
            ("li", "story-item"),
            ("div", "flex-1"),
        ),
        card_date_chain=(("time", None), ("span", "date")),
    ),
    # archive.org analog — the FULL-TEXT download-pill branch (reference
    # :1333-1337): on a details page only the download-pill anchor whose
    # text contains "FULL TEXT" yields a link
    DomainRules(
        host_key="archive.example",
        card_selectors=(("a", "download-pill"),),
        card_text_containing=("FULL TEXT",),
    ),
    # straitstimes analog — targeted-mode pagination follows ONLY the
    # "Next Page" anchor (reference :751-758); entire-site mode is
    # unaffected (next_page_text is consulted only when
    # search_entire_site=False)
    DomainRules(
        host_key="stimes.example",
        next_page_text=("Next Page",),
        # date fallback ending in an ATTRIBUTE source (reference :2077-2086:
        # ... time::text or time::attr(datetime) or
        # time[itemprop="datePublished"]::attr(datetime))
        date_chain=(
            ("span", "pubdate"),
            ("time", None),
            ("time", ("itemprop", "datePublished"), "datetime"),
        ),
        date_splits=(("PUBLISHED: ", -1),),
    ),
    # cna analog — attribute-carried quick-link cards alongside the
    # standard div.card (reference :1366-1373: data-heading +
    # data-link_absolute, no anchor element), and the meta og:title
    # article-title fallback (reference :1367: meta[property="og:title"]
    # ::attr(content))
    DomainRules(
        host_key="cna.example",
        title_chain=(
            ("h1", None),
            ("meta", ("property", "og:title"), "content"),
        ),
        card_attr_selectors=(
            ("div", "quick-link", "data-link_absolute", "data-heading"),
        ),
    ),
    # ---- round-5 rows: the remaining reference branches, all pure data --
    # philstar analog (reference :759-761 all-anchor pagination,
    # :1002-1012 card selector union, :2088-2096 page-wide p body with
    # twitter-tweet div exclusion and the ' | ' date split)
    DomainRules(
        host_key="pstar.example",
        body_chain=(("root", None),),
        excluded_classes=DEFAULT_EXCLUDED | {"twitter-tweet"},
        date_chain=(("div", "article__date-published"),),
        date_splits=((" | ", 0),),
        card_selectors=(
            ("div", "carousel__item__title"),
            ("div", "ribbon_title"),
            ("div", "home_columnists_cell_details"),
            ("div", "inside_cell_title_main"),
            ("div", "news_title"),
        ),
    ),
    # mb.com.ph analog (reference :1041-1066 card union, :2178-2182
    # page-wide p body + .mb-font-article-date fallback; :765-772 targeted
    # mode returns None — the EMPTY next_page_text tuple)
    DomainRules(
        host_key="mbull.example",
        body_chain=(("root", None),),
        date_chain=(("div", "mb-font-article-date"),),
        card_selectors=(
            ("div", "mb-16"),
            ("div", "mb-5"),
            ("div", "custom-article-text"),
            ("div", "mb-font-article-title"),
            ("div", "mb-font-live-update-article-title"),
            ("div", "videoCube"),
        ),
        next_page_text=(),
    ),
    # bernama analog — PATH-QUALIFIED key, matched against host+path
    # exactly like the reference's `'bernama.com/en/' in response.url`
    # (:779-781, :1129-1145 h6/h1.h3 card leaves, :2219-2224 h1.h2 title
    # + div.text-right date)
    DomainRules(
        host_key="bern.example/en/",
        body_chain=(("root", None),),
        title_chain=(("h1", "h2"),),
        date_chain=(("div", "text-right"),),
        card_selectors=(("h6", None), ("h1", "h3")),
    ),
    # freemalaysiatoday analog (reference :785-787, :1167-1193
    # anchor-in-blockquote card set + mostpopular ol li, :2236-2245
    # page-wide p body, h1 title, time date)
    DomainRules(
        host_key="fmtoday.example",
        body_chain=(("root", None),),
        date_chain=(("time", None),),
        card_selectors=(("blockquote", None), ("li", "popular-item")),
        card_date_chain=(("time", None), ("span", "date")),
    ),
    # vnanet analog — PATH-QUALIFIED key (`'vnanet.vn/en/' in
    # response.url` :788-790; :1195-1206 grp-panel/title-big-news card
    # leaves; :2247-2256 page-wide p body, details__header h1 title,
    # time date)
    DomainRules(
        host_key="vna.example/en/",
        body_chain=(("root", None),),
        date_chain=(("time", None),),
        card_selectors=(
            ("div", "grp-panel"),
            ("div", "title-big-news"),
            ("li", "parentMenuItem"),
        ),
    ),
    # vietnamnews analog (reference :791-793, :1208-1227 article.story h2
    # a card leaves, :2258-2267 page-wide p body, h1.headline title,
    # div.datetime date)
    DomainRules(
        host_key="vnews.example",
        body_chain=(("root", None),),
        title_chain=(("h1", "headline"),),
        date_chain=(("div", "datetime"),),
        card_selectors=(("article", "story"), ("li", "event-list-item")),
    ),
    # vietnamplus analog — SUBDOMAIN-QUALIFIED key (`'en.vietnamplus.vn'`
    # :794-796; :1229-1246 story card leaves; :2269-2278 p//text() UNION
    # article-body div text with article-photo exclusion, details__headline
    # title, time date)
    DomainRules(
        host_key="en.vplus.example",
        body_chain=(("root", None),),
        body_include=(("div", "article-body-note", None),),
        excluded_classes=DEFAULT_EXCLUDED | {"article-photo"},
        title_chain=(("h1", "details__headline"),),
        date_chain=(("time", None),),
        card_selectors=(("article", "story"), ("li", "story--list-item")),
    ),
    # thejakartapost analog (reference :803-805, :1288-1301 headline/grid
    # card leaves, :2302-2311: p body excluding newsletter-box /
    # on-ie-underversion9 / social-login divs UNIONed with
    # div.tjp-opening/h1 text; tjp-single__head-item--detail title,
    # tjp-meta__content-list date)
    DomainRules(
        host_key="tjpost.example",
        body_chain=(("root", None),),
        body_include=(("h1", None, "tjp-opening"),),
        excluded_classes=DEFAULT_EXCLUDED
        | {"tjp-newsletter-box", "on-ie-underversion9", "social-login"},
        title_chain=(("div", "tjp-single__head-item--detail"),),
        date_chain=(("div", "tjp-meta__content-list"),),
        card_selectors=(
            ("div", "tjp-homepage__headline-main"),
            ("div", "tjp-homepage__headline-third"),
            ("div", "tjp-grid"),
            ("div", "latestDetail"),
            ("div", "smallHeadline"),
        ),
    ),
    # go.kompas analog — SUBDOMAIN-QUALIFIED key (`'go.kompas.com'`
    # :806-808 targeted pagination div.paging__item > a.paging__link;
    # :1303-1306 article__list__title card leaf; :2313-2322: page-wide p
    # body with Also-Read drops UNIONed with read__content h3 + RAW li
    # text (no stitching), read__time date)
    DomainRules(
        host_key="go.kmps.example",
        body_chain=(("root", None),),
        body_include=(("h3", None, "read__content"),),
        drop_text_containing=("Also Read:", "Also read:"),
        li_stitch=False,
        date_chain=(("div", "read__time"),),
        card_selectors=(("div", "article__list__title"),),
        next_page_selectors=(("a", "paging__link"),),
    ),
    # cambodiadaily analog — SUBDOMAIN-QUALIFIED key
    # (`'english.cambodiadaily.com'` :812-814 targeted pagination
    # div.page-nav > a; :1313-1316 td-module-meta-info card leaf;
    # :2338-2347 p body with Also-Read drops, tdb-title-text title,
    # time.entry-date date)
    DomainRules(
        host_key="english.cdaily.example",
        body_chain=(("root", None),),
        drop_text_containing=("Also Read:", "Also read:"),
        title_chain=(("h1", "tdb-title-text"),),
        date_chain=(("time", "entry-date"),),
        card_selectors=(("div", "td-module-meta-info"),),
        next_page_selectors=(("div", "page-nav"),),
    ),
    # phnompenhpost analog (reference :815-821 targeted pagination
    # p.page-Navigation > a; :1318-1331 card leaves; :2349-2369: p body
    # excluding 'Publication date'/'Reporter :' texts and img-captions /
    # mustwatch-text divs; section-article-header h2 title; the date
    # resolves from the LAST 'Publication date' paragraph then
    # splits on '|')
    DomainRules(
        host_key="ppost.example",
        body_chain=(("root", None),),
        drop_text_containing=("Publication date", "Reporter :"),
        excluded_classes=DEFAULT_EXCLUDED | {"img-captions", "mustwatch-text"},
        title_chain=(("div", "section-article-header"),),
        date_chain=(),
        date_p_containing="Publication date",
        date_splits=(("|", 0),),
        card_selectors=(
            ("div", "main-content-text"),
            ("div", "category-item"),
            ("div", "category-bot-md-text"),
            ("li", "latest-news-item"),
        ),
        next_page_selectors=(("p", "page-Navigation"),),
    ),
)


def rules_for_host(host: str, path: str = "") -> DomainRules:
    """First host_key substring match wins.  Keys containing '/' are
    PATH-QUALIFIED and match against host+path — the reference keys some
    branches on the URL, not the host (`'bernama.com/en/' in
    response.url` :779, `'vnanet.vn/en/' in response.url` :788)."""
    hostpath = (host or "") + (path or "")
    for r in DOMAIN_RULES:
        if not r.host_key:
            continue
        if ("/" in r.host_key and r.host_key in hostpath) or (
            "/" not in r.host_key and r.host_key in (host or "")
        ):
            return r
    return DEFAULT_RULES
