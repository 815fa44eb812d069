"""Single-threaded straight-line crawl oracle.

Implements the same crawl semantics as crawlspark.crawl but with plain
Python data structures and zero parallelism — the ground truth for the
pytest equality checks required by BASELINE.json: final URL-seen set,
crawl order (batch granularity), and per-doc span-sequence
(kind, text, media_ref, order) equality.  It shares only *scalar* helper
functions with the engine (fix_url, skip filter, clean_spans, date parse,
priority) — the frontier/dedup/scheduling/merge machinery it validates is
implemented independently here (dicts + sorts vs DataFrames + windows).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from crawlspark import html_parse, rules, synthetic
from crawlspark.functions import urls as U
from crawlspark.functions.dates import parse_date_py
from crawlspark.functions.textclean import clean_spans
from crawlspark.functions.transfer import decode_body_py
from crawlspark.operators.docs import doc_id_py
from crawlspark.operators.scheduler import (
    breaker_tripped_py,
    priority_py,
    robots_allowed_py,
)


@dataclass
class OracleResult:
    seen: set = field(default_factory=set)
    progress: list = field(default_factory=list)  # (url, batch, attempt, outcome, status)
    docs: dict = field(default_factory=dict)  # doc_id -> doc dict
    batches: int = 0


def crawl_oracle(
    spec: synthetic.WebSpec,
    max_batches: int = 64,
    max_depth: int = 64,
    budget_override: int | None = None,
    seed_urls: list[str] | None = None,
    entire_site: bool = True,
    use_sitemaps: bool = False,
    use_feeds: bool = False,
    strip_tracking: bool = False,
    obey_meta_robots: bool = False,
    obey_link_rel: bool = False,
    use_canonical_link: bool = False,
    autothrottle: bool = False,
    failure_trip_threshold: int | None = None,
    failure_trip_cooldown: int = 4,
) -> OracleResult:
    res = OracleResult()
    hosts: dict[str, dict] = {}
    # circuit-breaker state (engine twin: scheduler.breaker_blocked_hosts,
    # which reads the SAME shape from the metrics table): per-host
    # (batch_id, n_ok, n_fetched) history, judged by the SHARED predicate
    fx_hist: dict[str, list[tuple[int, int, int]]] = {}
    # AutoThrottle state (engine twin: scheduler.apply_autothrottle):
    # per-host metrics history, folded by the SHARED recurrence
    at_hist: dict[str, list[tuple[int, int, int]]] = {}

    def at_budget(host: str) -> int:
        from crawlspark.operators.scheduler import autothrottle_fold_py

        min_d = int(hosts[host]["crawl_delay_s"] * 1000)
        d = autothrottle_fold_py(at_hist.get(host, []), min_delay_ms=min_d)
        return max(1, int(rules.BATCH_PERIOD_S * 1000) // d)
    # pending: url -> record
    pending: dict[str, dict] = {}

    def robots(host: str) -> dict:
        if host not in hosts:
            hosts[host] = synthetic.robots_for_host(host)
        return hosts[host]

    def _canon(href: str, base: str | None = None) -> str:
        # engine twin: optional tracking-param strip AFTER fix_url,
        # uniformly on every seed source and every extracted link
        cu = U.fix_url_py(href, base) if base is not None else U.fix_url_py(href)
        return U.strip_tracking_params_py(cu) if strip_tracking else cu

    def add_seed(u: str) -> None:
        cu = _canon(u)
        if U.should_skip_py(cu) or cu in res.seen:
            return
        host = U.host_of_py(cu)
        robots(host)
        kind, _, _ = synthetic.classify_url(cu)
        # sitemap/feed survive (engine twin: crawl._seed_row_py)
        kind = kind if kind in ("listing", "sitemap", "feed") else "article"
        pending[cu] = {
            "url": cu, "host": host, "depth": 0,
            "priority": priority_py(0, kind, cu),
            "retry_count": 0, "not_before": 0, "kind": kind, "meta": None,
        }
        res.seen.add(cu)

    for u in (seed_urls if seed_urls is not None else synthetic.seed_urls(spec)):
        add_seed(u)
    if use_sitemaps:
        # robots-declared sitemap URLs of the seed hosts join as extra
        # seeds (engine twin: crawl._sitemap_frontier unioned pre-dedup)
        for host in sorted({r["host"] for r in pending.values()}):
            for sm in robots(host).get("sitemaps", []):
                add_seed(sm)

    batch = 0
    while batch < max_batches:
        batch += 1
        eligible: dict[str, list[dict]] = {}
        blocked: list[dict] = []
        for r in pending.values():
            if r["not_before"] > batch:
                continue
            rb = robots(r["host"])
            if not robots_allowed_py(r["url"], rb["disallow"], rb.get("allow")):
                blocked.append(r)  # retire with a terminal record (engine twin)
                continue
            eligible.setdefault(r["host"], []).append(r)
        for r in blocked:
            del pending[r["url"]]
            res.progress.append((r["url"], batch, r["retry_count"], "robots_blocked", 0))
        scheduled: list[dict] = []
        breaker_held = False
        for host in sorted(eligible):
            if failure_trip_threshold is not None and breaker_tripped_py(
                fx_hist.get(host, []), threshold=failure_trip_threshold,
                cooldown=failure_trip_cooldown, now_batch=batch,
            ):
                breaker_held = True  # rows stay pending (engine: budget 0)
                continue
            if autothrottle and budget_override is None:
                budget = at_budget(host)
            else:
                budget = budget_override or robots(host)["budget_per_batch"]
            rows = sorted(eligible[host], key=lambda r: (-r["priority"], r["url"]))
            scheduled.extend(rows[:budget])
        if not scheduled:
            if blocked:
                continue  # this batch only retired robots-blocked rows
            if breaker_held:
                continue  # breaker cooldown will pass (engine twin)
            if any(r["not_before"] > batch for r in pending.values()):
                continue  # backoff-gated work remains
            batch -= 1
            break

        candidates: dict[str, dict] = {}  # link url -> winner record
        at_batch: dict[str, list[int]] = {}  # host -> [n, sum_elapsed_ms]
        fx_batch: dict[str, list[int]] = {}  # host -> [n_fetched, n_ok]
        for r in scheduled:
            del pending[r["url"]]
            status, final_url, raw, enc, _el = synthetic.fetch_encoded(spec, r["url"], r["retry_count"])
            if autothrottle:
                acc = at_batch.setdefault(r["host"], [0, 0])
                acc[0] += 1
                acc[1] += _el
            if failure_trip_threshold is not None:
                fx_batch.setdefault(r["host"], [0, 0])[0] += 1
            body, decode_error = decode_body_py(raw, enc)
            if status == 200 and decode_error and r["retry_count"] < rules.MAX_RETRIES:
                outcome = "retry"  # corrupt transfer stream (GzipRetryMiddleware)
            elif status == 200 and decode_error:
                outcome = "failed"
            elif status == 200:
                outcome = "done"
            elif status in rules.SKIP_STATUSES:
                outcome = "skipped"
            elif status in rules.RETRYABLE_STATUSES and r["retry_count"] < rules.MAX_RETRIES:
                outcome = "retry"
            else:
                outcome = "failed"
            if failure_trip_threshold is not None and outcome == "done":
                fx_batch[r["host"]][1] += 1
            res.progress.append((r["url"], batch, r["retry_count"], outcome, status))
            if outcome == "retry":
                nr = dict(r)
                nr["retry_count"] += 1
                nr["not_before"] = batch + 2 ** nr["retry_count"]
                pending[r["url"]] = nr
                continue
            if outcome != "done":
                continue
            page_url = final_url or r["url"]
            # path for PATH-QUALIFIED rule keys (reference :779)
            path = U.path_of_py(page_url)
            # robots META gate (engine twin: parse._parse_row)
            no_follow = no_index = False
            if obey_meta_robots and r["kind"] not in ("sitemap", "feed"):
                d = html_parse.meta_robots_directives(body)
                no_follow = "nofollow" in d or "none" in d
                no_index = "noindex" in d or "none" in d
            if r["kind"] == "listing" and no_follow:
                pass  # every outgoing link suppressed
            elif r["kind"] == "listing":
                cards = html_parse.extract_listing_cards(body, r["host"], path)
                card_links = set()
                for c in cards:
                    canon = _canon(c["link"], page_url)
                    card_links.add(canon)
                    _add_candidate(candidates, canon, r, "article",
                                   {"title": c["title"], "date": c["date"], "article_url": canon})
                more = (html_parse.extract_links(body) if entire_site
                        else html_parse.extract_targeted_links(body, r["host"], path))
                if obey_link_rel:
                    # per-anchor REP gate (engine twin: parse._parse_row;
                    # the blocked-set derivation is the SHARED
                    # html_parse.rel_blocked_hrefs)
                    rb = html_parse.rel_blocked_hrefs(body)
                    more = [u for u in more if u not in rb]
                for href in more:
                    canon = _canon(href, page_url)
                    if canon in card_links:
                        continue
                    k, _, _ = synthetic.classify_url(canon)
                    _add_candidate(candidates, canon, r, _link_kind(k), None)
                if use_feeds:
                    # feed autodiscovery (engine twin: parse._parse_row's
                    # use_feeds listing tail)
                    for href in html_parse.feed_autodiscovery_hrefs(body):
                        canon = _canon(href, page_url)
                        k, _, _ = synthetic.classify_url(canon)
                        _add_candidate(candidates, canon, r, _link_kind(k), None)
            elif r["kind"] == "feed":
                # RSS/Atom entries → article links with feed-declared meta
                # (engine twin: parse._parse_row's feed branch)
                from crawlspark.sources.feeds import feed_entries_py

                for e in feed_entries_py(body):
                    canon = _canon(e["url"], page_url)
                    k, _, _ = synthetic.classify_url(canon)
                    lk = _link_kind(k)
                    m = ({"title": e["title"], "date": e["published"],
                          "article_url": canon} if lk == "article" else None)
                    _add_candidate(candidates, canon, r, lk, m)
            elif r["kind"] == "sitemap":
                # sitemaps.org <urlset> → links (engine twin: parse._parse_row)
                for loc in re.findall(r"<loc>(.*?)</loc>", body):
                    canon = _canon(loc.strip(), page_url)
                    k, _, _ = synthetic.classify_url(canon)
                    _add_candidate(candidates, canon, r, _link_kind(k), None)
            else:
                art = html_parse.extract_article(body, r["host"], path)
                if art["redirect_url"] and no_follow:
                    pass  # the redirect hop is a link; nofollow drops it
                elif art["redirect_url"]:
                    canon = _canon(art["redirect_url"], page_url)
                    _add_candidate(candidates, canon, r, "article",
                                   {"title": art["title"], "date": art["date_raw"], "article_url": canon})
                elif no_index:
                    pass  # fetched and seen, never indexed
                else:
                    doc_url = page_url
                    if use_canonical_link:
                        ch = html_parse.rel_canonical_href(body)
                        if ch:
                            doc_url = _canon(ch, page_url)
                    _emit_doc(res, doc_url, r, art, batch)

        if autothrottle:
            for h, (n, s) in at_batch.items():
                at_hist.setdefault(h, []).append((batch, n, s))
        if failure_trip_threshold is not None:
            for h, (n, ok) in fx_batch.items():
                fx_hist.setdefault(h, []).append((batch, ok, n))

        # frontier merge: skip-filter → dedup vs seen → append
        for canon in sorted(candidates):
            c = candidates[canon]
            if U.should_skip_py(canon):
                continue
            if c["depth"] > max_depth or canon in res.seen:
                continue
            res.seen.add(canon)
            host = U.host_of_py(canon)
            pending[canon] = {
                "url": canon, "host": host, "depth": c["depth"],
                "priority": priority_py(c["depth"], c["kind"], canon),
                "retry_count": 0, "not_before": batch + 1,
                "kind": c["kind"], "meta": c["meta"],
            }
    res.batches = batch
    return res


def _link_kind(classified: str) -> str:
    """Link-kind mapping shared by listing, sitemap, and feed link
    extraction: a discovered link to another sitemap (sitemap-index
    nesting) or to a feed (autodiscovery) must be FETCHED as that kind,
    not parsed as an article."""
    return (classified if classified in ("listing", "sitemap", "feed")
            else "article")


def _add_candidate(candidates: dict, canon: str, src: dict, kind: str, meta):
    rec = {"depth": src["depth"] + 1, "kind": kind, "meta": meta, "src": src["url"]}
    cur = candidates.get(canon)
    if cur is None or rec["src"] < cur["src"]:
        candidates[canon] = rec


def _emit_doc(res: OracleResult, page_url: str, r: dict, art: dict, batch: int):
    title = art["title"] or (r["meta"] or {}).get("title")
    date_raw = art["date_raw"] or (r["meta"] or {}).get("date")
    spans = clean_spans(art["spans"])
    if not any(s["kind"] == "text" for s in spans):
        return
    pub = parse_date_py(date_raw)
    if pub is None:
        return
    domain = U.domain_of_py(U.host_of_py(page_url))
    lo, hi = rules.DATE_WINDOWS.get(domain, rules.DEFAULT_DATE_WINDOW)
    if not (lo <= pub.year <= hi):
        return
    body_text = "\n".join(s["text"] for s in spans if s["kind"] == "text" and s["text"])
    hay = ((title or "") + " " + body_text).lower()
    if not any(k in hay for k in rules.SEARCH_KEYWORDS):
        return
    did = doc_id_py(page_url)
    if did in res.docs:
        return
    res.docs[did] = {
        "doc_id": did, "url": page_url, "title": title,
        "published_date": pub, "source": rules.SOURCE_CODES.get(domain),
        "batch_id": batch, "spans": spans,
    }
