"""Minimal DOM + per-domain extraction (stdlib html.parser; no lxml in env).

HTML here plays the role JSON plays in an analytics engine: semi-structured
extraction into typed columns (SURVEY.md §2.8).  The extractors mirror the
reference's per-domain selector semantics:
  * link extraction  — reference get_next_pages covid_news_spider.py:728-829;
  * listing cards    — parse_articles :989-1341 (title/date/link per card);
  * body spans       — get_article_content :2060-2377: ordered text spans
    with figure/caption/photo nodes excluded *structurally* (e.g.
    not(ancestor::figcaption) :2061, articlePhoto div exclusion :2283)
    and emitted as interleaved media spans instead of dropped;
  * <strong>/<b> decompose for the inquirer-analog host (:2113-2134);
  * <li> punctuation stitching (:2139-2152, :2197-2211);
  * empty-body redirect discovery (:2389-2432).

Pure Python, called ONLY inside Arrow-batched mapInPandas stages and the
single-threaded oracle — never registered as a row-at-a-time UDF.
"""

from __future__ import annotations

import functools
from html.parser import HTMLParser


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict, parent: "Node | None"):
        self.tag = tag
        self.attrs = attrs
        self.children: list = []  # Node or str
        self.parent = parent

    def classes(self) -> set[str]:
        return set((self.attrs.get("class") or "").split())

    def text(self) -> str:
        out: list[str] = []
        stack: list = [self]
        while stack:
            n = stack.pop()
            if isinstance(n, str):
                out.append(n)
            else:
                stack.extend(reversed(n.children))
        return "".join(out)

    def iter(self):
        stack: list = [self]
        while stack:
            n = stack.pop()
            yield n
            if isinstance(n, Node):
                stack.extend(reversed(n.children))

    def find_all(self, tag: str | None = None, cls: str | None = None):
        for n in self.iter():
            if isinstance(n, Node) and (tag is None or n.tag == tag):
                if cls is None or cls in n.classes():
                    yield n

    def has_ancestor(self, pred) -> bool:
        p = self.parent
        while p is not None:
            if pred(p):
                return True
            p = p.parent
        return False


_VOID = {"img", "br", "hr", "meta", "link", "input", "source"}


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("root", {}, None)
        self.cur = self.root

    def handle_starttag(self, tag, attrs):
        node = Node(tag, dict(attrs), self.cur)
        self.cur.children.append(node)
        if tag not in _VOID:
            self.cur = node

    def handle_endtag(self, tag):
        n = self.cur
        while n is not self.root and n.tag != tag:
            n = n.parent
        if n is not self.root:
            self.cur = n.parent

    def handle_data(self, data):
        if data:
            self.cur.children.append(data)


# One page's extractors (cards, links, rel gates, article fields) each ask
# for its tree; keeping the last tree parses each body once.  Trees are
# never changed after _TreeBuilder builds them, so sharing one is safe.
@functools.lru_cache(maxsize=1)
def parse_html(html: str) -> Node:
    tb = _TreeBuilder()
    tb.feed(html or "")
    return tb.root


# ---------------- extraction ----------------

_ONCLICK_RX = None


def extract_links(html: str) -> list[str]:
    """All a@href on the page (frontier expansion; reference :747-760: the
    entire-site branch is a::attr(href) getall for every domain), plus
    URLs carried in onclick handlers (C8: reference extracts
    window.open('…') targets via regex, :1409-1413)."""
    import re

    global _ONCLICK_RX
    if _ONCLICK_RX is None:
        _ONCLICK_RX = re.compile(r"window\.open\('(.*?)'")
    root = parse_html(html)
    out = []
    for a in root.find_all("a"):
        if a.attrs.get("href"):
            out.append(a.attrs["href"])
        elif a.attrs.get("onclick"):
            m = _ONCLICK_RX.search(a.attrs["onclick"])
            if m:
                out.append(m.group(1))
    return out


def extract_links_with_rel(html: str) -> list[tuple[str, str]]:
    """All a@href with each anchor's ``rel`` tokens (lowercased, sorted,
    space-joined; '' when absent) — the per-LINK REP channel
    (rel=nofollow / sponsored / ugc): robots.txt gates a HOST's paths,
    robots META gates a PAGE's links, this gates ONE anchor.  A frontier
    that honors it skips nofollow-class links; a link-graph build that
    honors it excludes them from equity signals (host_pagerank,
    anchor_text_agg).  Same traversal as ``extract_links`` (onclick
    anchors carry no rel and are excluded here — rel is an attribute of
    the <a> grammar, not of script-carried URLs)."""
    root = parse_html(html)
    out = []
    for a in root.find_all("a"):
        href = a.attrs.get("href")
        if not href:
            continue
        rel = " ".join(sorted((a.attrs.get("rel") or "").lower().split()))
        out.append((href, rel))
    return out


REL_BLOCKED = frozenset({"nofollow", "sponsored", "ugc"})


def rel_blocked_hrefs(html: str) -> set[str]:
    """hrefs that appear ONLY on rel-blocked anchors (nofollow / sponsored
    / ugc) — the set cfg.obey_link_rel subtracts from the frontier walk.
    Per-ANCHOR semantics, like the spec: a URL also carried by any plain
    anchor stays followable; onclick-carried URLs never block (no rel
    grammar on script strings).  Shared by the engine's fused parse stage
    and the crawl oracle so the gate can never drift between them."""
    blocked: set[str] = set()
    allowed: set[str] = set()
    for href, rel in extract_links_with_rel(html):
        if REL_BLOCKED & set(rel.split()):
            blocked.add(href)
        else:
            allowed.add(href)
    return blocked - allowed


def extract_targeted_links(html: str, host: str, path: str = "") -> list[str]:
    """Targeted-pagination link extraction (reference
    SEARCH_ENTIRE_WEBSITE=0, :751-829): domains with a
    ``next_page_selectors`` rule follow ALL anchors matching the selector
    set (getall semantics — go.kompas :806-808, khmertimes :809-811,
    cambodiadaily :812-814, phnompenhpost :815-821, bangkokpost
    :797-802); domains with a ``next_page_text`` rule follow only the
    FIRST anchor whose text contains one of the configured strings
    (straitstimes a:contains("Next Page") .get(), :751-758) — the EMPTY
    tuple follows nothing (mb.com.ph returns None, :765-772); domains
    with neither extract every anchor, exactly as the reference's
    cna/philstar/inquirer branches do in both modes."""
    from crawlspark.extract_rules import rules_for_host

    r = rules_for_host(host, path)
    if r.next_page_selectors:
        root = parse_html(html)
        out = []
        for a in root.find_all("a"):
            if not a.attrs.get("href"):
                continue
            for tag, cls in r.next_page_selectors:
                if tag == "a":
                    if cls in a.classes():
                        out.append(a.attrs["href"])
                        break
                elif a.has_ancestor(
                    lambda p, tag=tag, cls=cls: isinstance(p, Node)
                    and p.tag == tag
                    and (cls is None or cls in p.classes())
                ):
                    out.append(a.attrs["href"])
                    break
        return out
    if r.next_page_text is None:
        return extract_links(html)
    root = parse_html(html)
    for a in root.find_all("a"):
        if a.attrs.get("href") and any(s in a.text() for s in r.next_page_text):
            return [a.attrs["href"]]
    return []


def _first_match(root: Node, chain) -> Node | None:
    """Ordered selector-fallback resolution: the FIRST selector in the
    chain with a match wins — the reference's `css(a) or css(b)` /
    or-chained XPath structure (e.g. khmertimes title fallback h1 →
    h2.entry-title, :2331-2332) as data."""
    for tag, cls in chain:
        el = next(root.find_all(tag, cls=cls), None)
        if el is not None:
            return el
    return None


def _first_chain_value(root: Node, chain) -> str | None:
    """Like _first_match but yielding the VALUE, with attribute-sourced
    entries: a 2-tuple (tag, cls) resolves to the element's text; a
    3-tuple (tag, cls_or_(attr,val), content_attr) resolves to an
    attribute value — the reference's `::attr(content)` /
    `::attr(datetime)` fallback forms (cna meta og:title :1362-1368,
    straitstimes time[itemprop=datePublished]::attr(datetime) :2086)."""
    for sel in chain:
        if len(sel) == 2:
            tag, cls = sel
            el = next(root.find_all(tag, cls=cls), None)
            if el is not None:
                t = el.text().strip()
                if t:
                    return t
                # text-less element: the reference's `::text` .get() yields
                # None here and the or-chain falls through (e.g. a bare
                # <time datetime=...> resolving via the attr entry, :2086)
        else:
            tag, cls, attr = sel
            for n in root.find_all(tag):
                if isinstance(cls, tuple):
                    if n.attrs.get(cls[0]) != cls[1]:
                        continue
                elif cls is not None and cls not in n.classes():
                    continue
                v = n.attrs.get(attr)
                if v:
                    return v.strip()
    return None


def extract_listing_cards(html: str, host: str = "", path: str = "") -> list[dict]:
    """Listing-card (title, date, link) triples (reference parse_articles /
    parse_article :989-1613).  Card selectors come from the host's rule
    table with UNION semantics in document order (the reference's `a, b, c`
    CSS selector groups, :1070-1101); the per-card date element resolves
    through an ordered fallback chain."""
    from crawlspark.extract_rules import rules_for_host

    r = rules_for_host(host, path)
    root = parse_html(html)
    card_sels = set(r.card_selectors)
    cards = []
    for node in root.iter():
        if not isinstance(node, Node):
            continue
        # attribute-carried cards (reference cna quick-link :1366-1373):
        # title and link live in attributes, no anchor element at all
        attr_hit = next(
            (s for s in r.card_attr_selectors
             if node.tag == s[0] and (s[1] is None or s[1] in node.classes())
             and node.attrs.get(s[2])),
            None,
        )
        if attr_hit is not None:
            _tag, _cls, link_attr, title_attr = attr_hit
            cards.append(
                {
                    "link": node.attrs[link_attr],
                    "title": (node.attrs.get(title_attr) or "").strip() or None,
                    "date": _first_chain_value(node, r.card_date_chain),
                }
            )
            continue
        if not any(
            node.tag == tag and (cls is None or cls in node.classes())
            for tag, cls in card_sels
        ):
            continue
        a = next(node.find_all("a"), None)
        if a is None or not a.attrs.get("href"):
            continue
        # anchor-text qualifier (reference archive.org FULL-TEXT pill,
        # :contains("FULL TEXT") :1333-1337)
        if r.card_text_containing and not any(
            s in a.text() for s in r.card_text_containing
        ):
            continue
        cards.append(
            {
                "link": a.attrs["href"],
                "title": a.text().strip() or None,
                "date": _first_chain_value(node, r.card_date_chain),
            }
        )
    return cards


def _excluded(node: Node, excluded_classes) -> bool:
    """Structural exclusions (ads/related everywhere; photo-wrapper divs —
    reference bangkokpost branch :2283, article-photo :2270; khmertimes
    entry-navigation :2325)."""
    def bad(p):
        return isinstance(p, Node) and p.tag == "div" and (p.classes() & excluded_classes)
    return node.has_ancestor(bad) or bad(node)


def _p_dropped(node: Node, r) -> bool:
    """Paragraph-level drops beyond the div exclusions: the paragraph's own
    class (reference thestar caption/date/reactions__desc/footer-bottom
    predicates, :2195) and contained-descendant predicates (thestar
    .//span[inline-caption], :2195)."""
    if node.classes() & r.excluded_p_classes:
        return True
    for tag, cls in r.drop_p_with:
        if next(node.find_all(tag, cls=cls), None) is not None:
            return True
    return False


def extract_article(html: str, host: str, path: str = "") -> dict:
    """Article page → title, raw date, ordered interleaved spans,
    redirect_url (for empty-body pages, reference :2389-2432).

    ALL per-domain behavior is data in extract_rules.DOMAIN_RULES: body /
    title / date resolve through ordered fallback chains
    (first-match-wins), div exclusions and paragraph text-drops come from
    the host's rule row, as does the strong/b decompose flag (:2113-2134).

    Span semantics: walk the body container in document order; <p> text →
    kind='text'; <figure>/<img> → kind='media' with media_ref=src and the
    figcaption text as the span text; <ul>/<ol> items → text spans with
    the reference's punctuation stitching (',' between items, '.' last).
    """
    from crawlspark.extract_rules import rules_for_host

    r = rules_for_host(host, path)
    root = parse_html(html)
    title = _first_chain_value(root, r.title_chain)
    date_raw = _first_chain_value(root, r.date_chain)
    if date_raw is None and r.date_p_containing:
        # phnompenhpost-style paragraph-carried date (:2349-2369):
        # //p[contains(text(), token)]/text() getall()[-1] — direct text
        # nodes of matching paragraphs, LAST one wins (the date sits after
        # a <br> inside the 'Publication date' paragraph)
        hits: list[str] = []
        for p in root.find_all("p"):
            texts = [c for c in p.children if isinstance(c, str)]
            if any(r.date_p_containing in t for t in texts):
                hits.extend(t.strip() for t in texts)
        if hits:
            date_raw = hits[-1]
    if date_raw is not None and r.date_splits:
        # per-domain raw-date post-splits (reference :2082-2083,
        # :2190-2191, :2297-2300); split() on an absent token is a no-op
        for token, idx in r.date_splits:
            date_raw = date_raw.split(token)[idx]
        date_raw = date_raw.strip()

    body = _first_match(root, r.body_chain)
    spans: list[tuple[str, str | None, str | None]] = []
    redirect_url = None

    if body is not None:
        base_drop = frozenset(("strong", "b")) if r.drop_strong else frozenset()
        # shallow tail (reference khmertimes :2325-2328): the LAST n
        # eligible paragraphs additionally drop the listed tags' content
        # — position is computed over the filtered paragraph set, like the
        # reference's XPath position()=last() predicates
        shallow_ids: set[int] = set()
        shallow_drop = frozenset()
        if r.shallow_tail:
            n_tail, tags = r.shallow_tail
            shallow_drop = base_drop | frozenset(tags)
            elig = []
            for node in body.iter():
                if not isinstance(node, Node) or node.tag != "p":
                    continue
                if _excluded(node, r.excluded_classes) or _p_dropped(node, r):
                    continue
                t = _para_text(node, base_drop).strip()
                if t and not any(x in t for x in r.drop_text_containing):
                    elig.append(node)
            shallow_ids = {id(n) for n in elig[-n_tail:]}
        for node in body.iter():
            if not isinstance(node, Node) or _excluded(node, r.excluded_classes):
                continue
            # guard before the genexpr: body_include is empty for all but a
            # few rule rows and this loop is the fused parse stage's hot path
            inc = None
            if r.body_include:
                inc = next(
                    (
                        s
                        for s in r.body_include
                        if node.tag == s[0]
                        and (s[1] is None or s[1] in node.classes())
                        and (
                            s[2] is None
                            or node.has_ancestor(
                                lambda p, c=s[2]: isinstance(p, Node)
                                and c in p.classes()
                            )
                        )
                    ),
                    None,
                )
            if inc is not None:
                # body-include leaf (tjpost tjp-opening h1 :2302, kompas
                # read__content h3 :2313, vietnamplus article-body div
                # :2269): its text joins the span stream in document order
                txt = node.text().strip()
                if txt and not any(n in txt for n in r.drop_text_containing):
                    spans.append(("text", txt, None))
                continue
            if node.tag == "p":
                if _p_dropped(node, r):
                    continue
                drop = shallow_drop if id(node) in shallow_ids else base_drop
                txt = _para_text(node, drop).strip()
                if txt and not any(n in txt for n in r.drop_text_containing):
                    spans.append(("text", txt, None))
            elif node.tag == "figure":
                img = next(node.find_all("img"), None)
                cap = next(node.find_all("figcaption"), None)
                spans.append(
                    (
                        "media",
                        cap.text().strip() if cap is not None else None,
                        img.attrs.get("src") if img is not None else None,
                    )
                )
            elif node.tag == "img" and not node.has_ancestor(
                lambda p: isinstance(p, Node) and p.tag == "figure"
            ):
                spans.append(("media", None, node.attrs.get("src")))
            elif node.tag in ("ul", "ol"):
                items = [li.text().strip() for li in node.find_all("li")]
                items = [t for t in items if t]
                for i, t in enumerate(items):
                    # default branches: ',' between, '.' after the last
                    # (:2139-2152); thestar leaves the last bare
                    # (li_tail_suffix="", :2203-2211); branches whose
                    # XPath takes //li//text() raw don't stitch at all
                    # (go.kompas :2313 — li_stitch=False)
                    if not r.li_stitch:
                        spans.append(("text", t, None))
                        continue
                    suffix = r.li_tail_suffix if i == len(items) - 1 else ","
                    spans.append(("text", t + suffix, None))

    if not any(k == "text" and (t or "").strip() for k, t, _ in spans):
        # empty body: look for the redirect anchor (reference :2389-2402)
        for a in root.find_all("a"):
            if "click here for article" in a.text().lower():
                redirect_url = a.attrs.get("href")
                break

    return {"title": title, "date_raw": date_raw, "spans": spans, "redirect_url": redirect_url}


def _para_text(p: Node, drop_tags: frozenset) -> str:
    """Paragraph text with the given tags' subtrees removed (rule-driven:
    strong/b decompose :2113-2134; em-tail drops :2325-2328)."""
    out: list[str] = []

    def walk(n):
        for c in n.children:
            if isinstance(c, str):
                out.append(c)
            elif c.tag in ("ul", "ol", "figure"):
                continue  # handled as their own spans
            elif c.tag in drop_tags:
                continue  # decompose per the host's rule row
            else:
                walk(c)

    walk(p)
    return "".join(out)


# ---- robots META directives (REP §2.3.1, the HTML-side of robots.txt) ----

import re as _re

_META_ROBOTS_RX = _re.compile(
    r"<meta\b[^>]*\bname=['\"]robots['\"][^>]*\bcontent=['\"]([^'\"]*)['\"]"
    r"|<meta\b[^>]*\bcontent=['\"]([^'\"]*)['\"][^>]*\bname=['\"]robots['\"]",
    _re.IGNORECASE,
)


def meta_robots_directives(html: str) -> set[str]:
    """Directives from every ``<meta name="robots" content="...">`` tag
    (either attribute order), lowercased and comma-split — the page-level
    REP channel robots.txt can't express: ``noindex`` (don't emit the
    document) and ``nofollow`` (don't enqueue the page's links), with
    ``none`` meaning both.  Gated behind cfg.obey_meta_robots: the
    reference's Scrapy stack does not honor robots META, so the
    oracle-equality default leaves it off."""
    out: set[str] = set()
    for m in _META_ROBOTS_RX.finditer(html):
        val = m.group(1) or m.group(2) or ""
        out.update(d.strip().lower() for d in val.split(",") if d.strip())
    return out


_REL_CANONICAL_RX = _re.compile(
    r"<link\b[^>]*\brel=['\"]canonical['\"][^>]*\bhref=['\"]([^'\"]*)['\"]"
    r"|<link\b[^>]*\bhref=['\"]([^'\"]*)['\"][^>]*\brel=['\"]canonical['\"]",
    _re.IGNORECASE,
)


def rel_canonical_href(html: str) -> str | None:
    """href of the first ``<link rel="canonical">`` tag (either attribute
    order), or None — the page's self-declared canonical URL.  Under
    cfg.use_canonical_link the document record is keyed by this URL, so
    URL aliases of one article collapse to a single doc_id even when the
    frontier fetched several variants."""
    m = _REL_CANONICAL_RX.search(html)
    if not m:
        return None
    return m.group(1) or m.group(2) or None


_FEED_LINK_RX = _re.compile(
    r"<link\b[^>]*\btype=['\"]application/(?:rss|atom)\+xml['\"][^>]*"
    r"\bhref=['\"]([^'\"]*)['\"]"
    r"|<link\b[^>]*\bhref=['\"]([^'\"]*)['\"][^>]*"
    r"\btype=['\"]application/(?:rss|atom)\+xml['\"]",
    _re.IGNORECASE,
)


def feed_autodiscovery_hrefs(html: str) -> list[str]:
    """hrefs of every ``<link type="application/rss+xml|atom+xml">``
    autodiscovery tag (either attribute order) — the standard way a page
    advertises its feed.  A HEAD link, so extract_links' a@href walk
    never sees it; only cfg.use_feeds follows these into the frontier."""
    out = []
    for m in _FEED_LINK_RX.finditer(html):
        href = m.group(1) or m.group(2)
        if href:
            out.append(href)
    return out
