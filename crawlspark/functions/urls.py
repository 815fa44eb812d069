"""URL canonicalization, host extraction and the skip-filter predicate.

Behavioral spec: reference ``fix_url`` (covid_news_spider.py:832-878 — a
chain of protocol/typo repairs + urljoin for relative URLs + strip),
``extract_domain_name`` (:702-725) and the 5×-repeated skip predicate
(:735-745, :896-905, :956-965, :1577-1586, :2048-2057).

Two twins of each function:
  * a plain-Python form (used by the single-threaded oracle AND inside the
    Arrow-batched pandas UDFs — never registered as a per-row Python UDF);
  * a Spark form built from pure built-ins (regexp_replace / rlike / IN)
    for everything that needs no urljoin, so the hot filter stays inside
    whole-stage codegen: SQL text for host, domain and the skip filter,
    Column chains for the fix_url repairs and tracking-param stripping.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

from crawlspark import rules

# (pattern, replacement) pairs — the reference fix_url repair chain
# (covid_news_spider.py:832-878) reproduced in its exact order.  Note the
# reference's catch-all ``^.*https?://`` -> ``https://`` line: it strips any
# junk prefix before a protocol AND (as a side effect the reference relies
# on) upgrades plain http:// to https:// — so the http->https upgrade here
# is reference behavior, not our invention.  Patterns are kept verbatim
# (including the reference's unescaped dots in a few) so the repair
# semantics match byte-for-byte; they are valid in Python re, Java regex
# (Spark regexp_replace) and RE2 (DuckDB, with the 'g' flag — re.sub and
# Spark replace all occurrences, DuckDB only the first without 'g').
_REPAIRS: list[tuple[str, str]] = [
    (r"^http://link%20to%20microsite%20", ""),
    (r"https?://https?://", "https://"),
    (r"https?://\(https?:?//?", "https://"),
    (r"https?://ttps?//?", "https://"),
    (r"^http://%22https/", "https:/"),
    (r"^https?https?://", "https://"),
    (r"^https?://www.https?/", "https://"),
    (r"^https?://www.straitsthttps?/", "https://"),
    (r"^htps?://", "https://"),
    (r"^tps?://", "https://"),
    (r"^ps?://", "https://"),
    (r"^s?://", "https://"),
    (r"^.*https?://", "https://"),
    (r"^ttps?://", "https://"),
    (r"https://ww\.", "https://www."),
    (r"https?://www\.\.", "https://www."),
    (r"^https?://wwww", "https://www"),
    (r"https?://taff\.straitstimes\.com/", "https://www.straitstimes.com/"),
    (r"https?://wwwf\.straitstimes\.com/", "https://www.straitstimes.com/"),
    (r"https?://wwwstraitstimes\.com/", "https://www.straitstimes.com/"),
    (r"https?://lifestyle\.inq@inquirer\.net", "https://lifestyle.inquirer.net"),
    (r"https?://usiness\.inquirer\.net", "https://business.inquirer.net"),
    (r"https?://ebudailynews\.inquirer\.net", "https://cebudailynews.inquirer.net"),
    (r"https?://globnalnation\.inquirer\.net", "https://globalnation.inquirer.net"),
    (r"https?://www\.bandera\.inquirer\.net", "https://bandera.inquirer.net"),
    (r"https?://www\.newsinfo\.inquirer\.net", "https://newsinfo.inquirer.net"),
    (r"https?://nwsinfo\.inquirer\.net", "https://newsinfo.inquirer.net"),
    (r"https?://www\.cebudailynews\.inquirer\.net", "https://cebudailynews.inquirer.net"),
    (r"https?://events@thestar\.com\.my/", "https://events.thestar.com.my/"),
]
_COMPILED_REPAIRS = [(re.compile(p), r) for p, r in _REPAIRS]


def fix_url_py(url: str, base_url: str = "https://www.example.com/") -> str:
    """Canonicalize one URL (Python twin; oracle + inside pandas UDFs)."""
    u = (url or "").strip()
    for rx, repl in _COMPILED_REPAIRS:
        u = rx.sub(repl, u)
    if not u.startswith("http") and not _is_non_fetch_scheme(u):
        u = urljoin(base_url, u)
    # canonical form: drop fragment, then strip (fragment removal can
    # expose trailing whitespace — strip AFTER so fix∘fix == fix), then
    # drop trailing slashes on path, re-stripping whitespace they exposed
    # ('a / /' → 'a'), again so fix∘fix == fix
    u = u.split("#", 1)[0].strip()
    while u.endswith("/") and u.count("/") > 3:
        u = u.rstrip("/").rstrip()
    return u


def _is_non_fetch_scheme(u: str) -> bool:
    lu = u.lower()
    return lu.startswith(("javascript:", "mailto:", "whatsapp://", "tel:"))


def host_of_py(url: str) -> str:
    try:
        return (urlsplit(url).netloc or "").lower()
    except ValueError:
        return ""


def path_of_py(url: str) -> str:
    """URL path ('/'-prefixed; '' for bare hosts) — the host+path input of
    PATH-QUALIFIED rule keys (reference keys some branches on the url:
    'bernama.com/en/' in response.url :779).  Shared by the engine parse
    stage and the oracle so the two can never drift."""
    try:
        return "/" + url.split("://", 1)[1].partition("/")[2]
    except IndexError:
        return ""


_MULTI_SUFFIXES = ("com.my", "com.ph", "com.sg", "co.uk", "com.kh")


def domain_of_py(host: str) -> str:
    """Registrable domain (tldextract replacement; reference :702-725)."""
    parts = (host or "").lower().split(".")
    if len(parts) >= 3 and ".".join(parts[-2:]) in _MULTI_SUFFIXES:
        return ".".join(parts[-3:])
    if len(parts) >= 2:
        return ".".join(parts[-2:])
    return host or ""


# Per-country registrable-domain rewrites (reference extract_domain_name
# covid_news_spider.py:708-725): some sites key their English edition off
# a path ('bernama.com/en/', 'vnanet.vn/en/') or a subdomain
# ('en.vietnamplus.vn', 'go.kompas.com', 'english.cambodiadaily.com'),
# and the reference qualifies the extracted domain before the
# allowed-domain membership test.  Declarative (country, domain) → rewrite
# so new cases are rows, not code.
DOMAIN_REWRITES: dict[tuple[str, str], str] = {
    ("malaysia", "bernama.com"): "bernama.com/en/",
    ("vietnam", "vnanet.vn"): "vnanet.vn/en/",
    ("vietnam", "vietnamplus.vn"): "en.vietnamplus.vn",
    ("indonesia", "kompas.com"): "go.kompas.com",
    ("cambodia", "cambodiadaily.com"): "english.cambodiadaily.com",
}


def domain_for_country_py(host: str, country: str) -> str:
    """Registrable domain with the per-country rewrite applied
    (reference :708-725: bernama/vnanet +'/en/', vietnamplus 'en.'+,
    kompas 'go.'+, cambodiadaily 'english.'+)."""
    d = domain_of_py(host)
    return DOMAIN_REWRITES.get(((country or "").lower(), d), d)


# ---------- Spark Column forms (pure built-ins, codegen'd) ----------

def fix_url_expr(url: Column) -> Column:
    """The regexp-repair subset of fix_url as a Column chain (no urljoin).

    Used for absolute URLs (the common case at scale) and for the DuckDB
    oracle cross-check.
    """
    c = F.trim(url)
    for pat, repl in _REPAIRS:
        c = F.regexp_replace(c, pat, repl)
    c = F.regexp_replace(c, r"#.*$", "")
    return c


def _substr_alternation(patterns: list[str]) -> str:
    return "|".join(re.escape(p) for p in patterns)


# ---------- Spark SQL forms (pure built-ins, codegen'd) ----------
# Each takes SQL expression text for its inputs and returns SQL text for
# F.expr / selectExpr / filter.  Text reaches the engine in one call
# however long it is; a Column tree costs one py4j call per function.

def sql_lit(v) -> str:
    """``v`` as a Spark SQL literal.  Strings become raw literals r'…', so
    a regex escape such as ``\\.`` reaches the engine as written (a plain
    '…' literal unescapes it to ``.``, which matches any character).  A
    raw literal cannot hold a quote, so such a value raises."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v!r}D"
    if "'" in v:
        raise ValueError(f"quote in SQL literal: {v!r}")
    return f"r'{v}'"


def sql_list(values) -> str:
    return ", ".join(sql_lit(v) for v in values)


def host_sql(url: str) -> str:
    return f"lower(parse_url({url}, {sql_lit('HOST')}))"


_DOMAIN3_RX = sql_lit(
    r"([^.]+\.(?:%s))$" % "|".join(s.replace(".", r"\.") for s in _MULTI_SUFFIXES))
_DOMAIN2_RX = sql_lit(r"([^.]+\.[^.]+)$")


def domain_sql(host: str) -> str:
    """Registrable domain from host via regexp (suffix-list aware)."""
    m3 = f"regexp_extract({host}, {_DOMAIN3_RX}, 1)"
    return (f"CASE WHEN {m3} != {sql_lit('')} THEN {m3} "
            f"ELSE regexp_extract({host}, {_DOMAIN2_RX}, 1) END")


_SKIP_SUB_RX = sql_lit(_substr_alternation(rules.SKIP_SUBSTRINGS))
_SKIP_EXT_RX = sql_lit(_substr_alternation(rules.EXCLUDED_FILE_EXTENSIONS))
_SKIP_SUBDOMAIN_RX = sql_lit(_substr_alternation(
    rules.IRRELEVANT_SUBDOMAIN_PATTERNS + rules.INACCESSIBLE_SUBDOMAIN_PATTERNS))
_INCOMPLETE = sql_list(rules.INCOMPLETE_ARTICLES)
_ALLOWED = sql_list(rules.ALLOWED_DOMAINS)


def skip_filter_sql(url: str, domain: str) -> str:
    """TRUE when the URL must be dropped (reference :735-745 predicate).

    All pieces are built-ins: rlike alternations compiled once (the
    idiomatic Spark form of 'any(substring in url)'), IN for the exact
    blocklist and the domain allowlist (small lists; a larger allowlist
    becomes a broadcast LEFT SEMI join)."""
    lurl = f"lower({url})"
    return (
        f"(({url}) IS NULL OR length(trim({url})) = 0"
        f" OR {lurl} RLIKE {_SKIP_SUB_RX}"
        f" OR {lurl} RLIKE {_SKIP_EXT_RX}"
        f" OR {lurl} RLIKE {_SKIP_SUBDOMAIN_RX}"
        f" OR ({url}) IN ({_INCOMPLETE})"
        f" OR ({domain}) NOT IN ({_ALLOWED}))"
    )


def domain_for_country_sql(host: str, country: str) -> str:
    """SQL form of domain_for_country_py: one CASE chain built from the
    DOMAIN_REWRITES rows."""
    d = domain_sql(host)
    whens = " ".join(
        f"WHEN lower({country}) = {sql_lit(ctry)} AND {d} = {sql_lit(dom)} "
        f"THEN {sql_lit(out)}"
        for (ctry, dom), out in DOMAIN_REWRITES.items()
    )
    return f"CASE {whens} ELSE {d} END"


def should_skip_py(url: str) -> bool:
    """Python twin of skip_filter_sql (oracle)."""
    if not url or not url.strip():
        return True
    lu = url.lower()
    if any(s in lu for s in rules.SKIP_SUBSTRINGS):
        return True
    if any(e in lu for e in rules.EXCLUDED_FILE_EXTENSIONS):
        return True
    if any(
        s in lu
        for s in rules.IRRELEVANT_SUBDOMAIN_PATTERNS + rules.INACCESSIBLE_SUBDOMAIN_PATTERNS
    ):
        return True
    if url in rules.INCOMPLETE_ARTICLES:
        return True
    if domain_of_py(host_of_py(url)) not in rules.ALLOWED_DOMAINS:
        return True
    return False


def link_kind_py(classified: str) -> str:
    """classify_url kind → frontier page_kind for a discovered/seeded URL.
    Listing, sitemap, and feed kinds are fetch-and-extract surfaces and
    must be preserved (a link to a sitemap — sitemap-index nesting — has
    to be FETCHED as a sitemap, not parsed as an article; likewise a feed
    autodiscovery link must be FETCHED as a feed); everything else is
    fetched as an article.  ONE definition shared by the parse stage's
    link branches and the seed path so the engine cannot drift against
    itself (the oracle keeps an intentionally independent copy)."""
    return (classified if classified in ("listing", "sitemap", "feed")
            else "article")


# ---- tracking-param canonicalization (dedup-side, opt-in) ----------------

# The classic analytics/click-id params that make distinct URLs point at
# the same page.  NOT part of the reference-pinned fix_url chain (the
# reference's canonicalizer :832-878 keeps them and the seen-set equality
# invariant pins that chain exactly); a production frontier applies this
# AFTER fix_url, before the seen-set probe.
TRACKING_PREFIXES = [
    "utm_", "fbclid=", "gclid=", "msclkid=", "mc_cid=", "mc_eid=",
    "igshid=",
]


def strip_tracking_params_expr(url: Column) -> Column:
    """Column-expression canonicalizer: drop the fragment, drop tracking
    query params (TRACKING_PREFIXES), SORT the survivors, re-join.
    Pure array-lambda built-ins (split → filter → array_sort → join) —
    JVM-side, codegen'd, zero shuffle, idempotent (tested)."""
    nofrag = F.substring_index(url, "#", 1)
    base = F.substring_index(nofrag, "?", 1)
    params = F.when(
        nofrag.contains("?"),
        F.split(F.substring_index(nofrag, "?", -1), "&"),
    ).otherwise(F.array().cast("array<string>"))

    def _not_tracking(x):
        keep = F.lit(True)
        for t in TRACKING_PREFIXES:
            keep = keep & ~x.startswith(t)
        return keep

    kept = F.array_sort(F.filter(params, _not_tracking))
    return F.concat(
        base,
        F.when(
            F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
        ).otherwise(F.lit("")),
    )


def strip_tracking_params_py(url: str) -> str:
    """Python twin of strip_tracking_params_expr — EXACT mirror of the
    expression semantics (including the substring_index first-'?'/last-'?'
    split and split('&') on an empty query yielding ['']), used by the
    fused parse stage's per-batch loop and the crawl oracle.  Parity is
    pinned by tests/test_urls.py."""
    nofrag = url.split("#", 1)[0]
    if "?" not in nofrag:
        return nofrag
    base = nofrag.split("?", 1)[0]          # substring_index(nofrag,'?',1)
    qs = nofrag.rsplit("?", 1)[1]           # substring_index(nofrag,'?',-1)
    kept = sorted(
        p for p in qs.split("&")
        if not p.startswith(tuple(TRACKING_PREFIXES))
    )
    if kept:
        return base + "?" + "&".join(kept)
    return base
