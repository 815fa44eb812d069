"""fix_url / skip filter: unit cases + Spark↔Python parity + idempotence."""

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawlspark.functions import urls as U

CASES = [
    ("https://https://www.cna.example/news/1-s1", "https://www.cna.example/news/1-s1"),
    ("htps://www.cna.example/news/2-s2", "https://www.cna.example/news/2-s2"),
    ("ttps://www.cna.example/a", "https://www.cna.example/a"),
    ("https://ww.cna.example/a", "https://www.cna.example/a"),
    ("https://wwww.cna.example/a", "https://www.cna.example/a"),
    ("  https://www.cna.example/a  ", "https://www.cna.example/a"),
    ("https://www.cna.example/a#frag", "https://www.cna.example/a"),
    ("https://www.cna.example/path/", "https://www.cna.example/path"),
    # reference catch-all ^.*https?:// upgrades http->https (spider :850)
    ("http://www.cna.example/a", "https://www.cna.example/a"),
    ("junk text https://www.cna.example/a", "https://www.cna.example/a"),
    ("ps://www.cna.example/a", "https://www.cna.example/a"),
    ("s://www.cna.example/a", "https://www.cna.example/a"),
    ("tp://www.cna.example/a", "https://www.cna.example/a"),
    # reference site-specific domain repairs (spider :855-866)
    ("https://taff.straitstimes.com/x", "https://www.straitstimes.com/x"),
    ("http://nwsinfo.inquirer.net/x", "https://newsinfo.inquirer.net/x"),
]


def test_fix_url_cases():
    for raw, want in CASES:
        assert U.fix_url_py(raw) == want, raw


def test_fix_url_relative():
    assert (
        U.fix_url_py("/news/5-s5", "https://www.cna.example/section/0/page/0")
        == "https://www.cna.example/news/5-s5"
    )
    assert U.fix_url_py("mailto:x@y.z") == "mailto:x@y.z"  # no urljoin for schemes


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=0, max_size=60))
@example("0 /")  # a trailing-slash strip exposed trailing whitespace
@example("0 / /")
def test_fix_url_idempotent(s):
    once = U.fix_url_py(s)
    assert U.fix_url_py(once) == once


def test_host_domain():
    assert U.host_of_py("https://www.cna.example/a") == "www.cna.example"
    assert U.domain_of_py("www.cna.example") == "cna.example"
    assert U.domain_of_py("sub.thestar.com.my") == "thestar.com.my"


SKIP_SAMPLES = [
    "https://www.cna.example/news/1-s1",          # keep
    "https://www.cna.example/section/0/page/1",   # keep
    "mailto:editor@example.com",                  # drop
    "javascript:void(0)",                         # drop
    "whatsapp://send?text=hi",                    # drop
    "https://www.cna.example/brochure.pdf",       # drop (extension)
    "https://shop.cna.example/deals",             # drop (subdomain)
    "https://othersite.example/article/1",        # drop (domain)
    "https://play.google.com/store/apps",         # drop
    "https://www.cna.example/news/3000017-broken-article",  # drop (incomplete)
    "",                                           # drop (empty)
]


def test_skip_filter_spark_python_parity(spark):
    df = spark.createDataFrame(pd.DataFrame({"url": SKIP_SAMPLES}))
    host = U.host_expr(F.col("url"))
    dom = U.domain_expr(host)
    got = {
        r["url"]: r["skip"]
        for r in df.select("url", U.skip_filter_expr(F.col("url"), host, dom).alias("skip")).collect()
    }
    for u in SKIP_SAMPLES:
        assert got[u] == U.should_skip_py(u), u
    assert not got[SKIP_SAMPLES[0]] and not got[SKIP_SAMPLES[1]]
    assert all(got[u] for u in SKIP_SAMPLES[2:])


def test_fix_url_expr_matches_python_on_absolute(spark):
    raws = [c[0] for c in CASES]
    df = spark.createDataFrame(pd.DataFrame({"url": raws}))
    got = [r["f"] for r in df.select(U.fix_url_expr(F.col("url")).alias("f")).collect()]
    # Column form covers the regex-repair subset (no trailing-slash strip)
    for raw, g in zip(raws, got):
        assert U.fix_url_py(raw) in (g, g.rstrip("/")), (raw, g)


def test_strip_tracking_params_cases_and_idempotence(spark):
    """The dedup-side canonicalizer: tracking params dropped, survivors
    sorted, fragment dropped, bare URLs untouched — and applying it to
    its own output is a no-op (idempotent), so it can sit anywhere in a
    multi-stage frontier pipeline without double-normalizing."""
    cases = {
        # (input, expected canon)
        "https://a.example/p?b=2&utm_source=x&a=1": "https://a.example/p?a=1&b=2",
        "https://a.example/p?utm_source=x&utm_medium=y": "https://a.example/p",
        "https://a.example/p#frag": "https://a.example/p",
        "https://a.example/p?gclid=abc123#frag": "https://a.example/p",
        "https://a.example/p": "https://a.example/p",
        "https://a.example/p?z=9": "https://a.example/p?z=9",
        "https://a.example/p?fbclid=1&msclkid=2&mc_cid=3&mc_eid=4&igshid=5&k=v":
            "https://a.example/p?k=v",
        # a param whose VALUE mentions utm_ is kept (prefix match only)
        "https://a.example/p?q=utm_source": "https://a.example/p?q=utm_source",
    }
    df = spark.createDataFrame([(u,) for u in cases], ["url"])
    once = U.strip_tracking_params_expr(F.col("url")).alias("c1")
    out = df.select("url", once)
    out = out.select(
        "url", "c1",
        U.strip_tracking_params_expr(F.col("c1")).alias("c2"),
    )
    for r in out.collect():
        assert r["c1"] == cases[r["url"]], r["url"]
        assert r["c2"] == r["c1"], f"not idempotent: {r['url']}"
