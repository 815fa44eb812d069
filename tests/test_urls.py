"""fix_url / skip filter: unit cases + Spark↔Python parity + idempotence."""

import pandas as pd
import pytest
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
    dom = U.domain_sql(U.host_sql("url"))
    got = {
        r["url"]: r["skip"]
        for r in df.selectExpr("url", f"{U.skip_filter_sql('url', dom)} AS skip").collect()
    }
    for u in SKIP_SAMPLES:
        assert got[u] == U.should_skip_py(u), u
    assert not got[SKIP_SAMPLES[0]] and not got[SKIP_SAMPLES[1]]
    assert all(got[u] for u in SKIP_SAMPLES[2:])


def test_sql_literals_keep_regex_escapes(spark):
    """Patterns reach SQL as raw literals: the skip filter's escaped
    '\\.pdf' must not match 'xpdf' (a plain '...' literal would unescape
    it to '.pdf', any character then 'pdf'), and the keyword patterns of
    the priority and the document filter keep '-' literal.  A value a raw
    literal cannot hold is refused."""
    from datetime import date

    from pyspark.sql import types as T

    from crawlspark import schemas
    from crawlspark.operators.docs import finalize_documents
    from crawlspark.operators.scheduler import PRIORITY_SQL, priority_py

    kept = "https://www.cna.example/brochurexpdf"
    assert not U.should_skip_py(kept)
    df = spark.createDataFrame([(kept,), ("https://www.cna.example/brochure.pdf",)], "url string")
    dom = U.domain_sql(U.host_sql("url"))
    assert [r.url for r in df.filter(f"NOT {U.skip_filter_sql('url', dom)}").collect()] == [kept]

    rows = [("https://www.cna.example/news/sars-cov-2-update", "article", 1),
            ("https://www.cna.example/news/sarsxcovx2-update", "article", 2),
            ("https://www.cna.example/section/0/page/1", "listing", 0)]
    got = spark.createDataFrame(rows, "url string, page_kind string, depth int").selectExpr(
        f"{PRIORITY_SQL} AS p").collect()
    assert [r.p for r in got] == [priority_py(d, k, u) for u, k, d in rows]
    assert got[0].p > got[1].p

    doc_schema = T.StructType([
        T.StructField("url", T.StringType()), T.StructField("title", T.StringType()),
        T.StructField("published_date", T.DateType()),
        T.StructField("spans", T.ArrayType(schemas.SPAN)),
    ])
    docs = spark.createDataFrame([
        (f"https://www.cna.example/news/{i}", "t", date(2021, 1, 1),
         [("text", f"about {kw}", None, 0)])
        for i, kw in enumerate(["sars-cov-2", "sarsxcovx2"])
    ], doc_schema)
    assert [r.url for r in finalize_documents(docs, 1).collect()] == [
        "https://www.cna.example/news/0"]

    with pytest.raises(ValueError):
        U.sql_lit("it's")


def test_host_and_domain_sql_match_python(spark):
    urls = [
        "https://www.cna.example/news/1", "https://sub.thestar.com.my/a",
        "http://a.b.bbc.co.uk/x?q=1", "https://x.y.com.sg", "https://Example.ORG/p",
        "https://www.inquirer.com.ph/n", "https://phnompenhpost.com.kh/z",
        "https://www.bernama.com/en/", "https://news.vnanet.vn/a",
    ]
    rows = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .selectExpr("url", f"{U.host_sql('url')} AS host")
        .selectExpr("url", "host", f"{U.domain_sql('host')} AS domain",
                    f"{U.domain_for_country_sql('host', U.sql_lit('Vietnam'))} AS vn")
        .collect()
    )
    assert len(rows) == len(urls)
    for r in rows:
        assert r.host == U.host_of_py(r.url), r
        assert r.domain == U.domain_of_py(r.host), r
        assert r.vn == U.domain_for_country_py(r.host, "vietnam"), r
    assert {r.domain for r in rows} >= {"thestar.com.my", "bbc.co.uk", "y.com.sg",
                                         "inquirer.com.ph", "phnompenhpost.com.kh"}


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
