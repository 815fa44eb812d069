"""robots.txt parser (clean-room Protego-subset; ROBOTSTXT_OBEY fidelity)."""

from crawlspark.functions.robots import parse_robots_txt
from crawlspark.synthetic import robots_for_host, robots_txt

SAMPLE = """
# comment
User-agent: badbot
Disallow: /

User-agent: *
Disallow: /private
Disallow: /tmp/
Crawl-delay: 2.5

User-agent: crawlspark
Disallow: /special
"""


def test_star_group():
    r = parse_robots_txt(SAMPLE, agent="someone-else")
    assert r["disallow"] == ["/private", "/tmp/"]
    assert r["crawl_delay"] == 2.5


def test_exact_agent_wins():
    r = parse_robots_txt(SAMPLE, agent="crawlspark")
    assert r["disallow"] == ["/special"]
    assert r["crawl_delay"] is None


def test_badbot_blocked_everywhere():
    r = parse_robots_txt(SAMPLE, agent="badbot")
    assert r["disallow"] == ["/"]


def test_empty_and_garbage():
    assert parse_robots_txt("")["disallow"] == []
    assert parse_robots_txt("nonsense without colons\n\n")["disallow"] == []
    r = parse_robots_txt("User-agent: *\nDisallow:\nCrawl-delay: soon\n")
    assert r["disallow"] == [] and r["crawl_delay"] is None


def test_multiple_agents_one_group():
    txt = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    assert parse_robots_txt(txt, agent="b")["disallow"] == ["/x"]


def test_hosts_bootstrap_distributed(spark):
    """The host/robots bootstrap runs as ONE distributed mapInPandas job —
    a 50k-host seed list never becomes a driver-side per-host loop (the
    round-2 verdict's last driver-side 100× bottleneck)."""
    from pyspark.sql import functions as F

    from crawlspark.crawl import _hosts_frame

    hosts = spark.range(50_000).select(
        F.concat(F.lit("www.h"), F.col("id"), F.lit(".example")).alias("host")
    )
    out = _hosts_frame(hosts)
    # robots work is executor-side: the plan is a MapInPandas over the
    # distinct hosts, no collect anywhere
    assert "MapInPandas" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == 50_000
    # values match the single-host fetch+parse path exactly
    row = out.filter(F.col("host") == "www.h123.example").first()
    ref = robots_for_host("www.h123.example")
    assert row["crawl_delay_s"] == ref["crawl_delay_s"]
    assert row["budget_per_batch"] == ref["budget_per_batch"]
    assert list(row["robots_disallow"]) == list(ref["disallow"])


def test_seen_update_fetches_robots_for_unknown_hosts_only(spark, monkeypatch):
    """A batch's host discovery gives HOSTS rows for exactly the hosts the
    hosts table lacks, whether the known names are looked up as an IN
    list or, past its size, by a broadcast semi-join; both fold the same
    keys into the URL-seen filter."""
    from crawlspark import crawl
    from crawlspark.operators.bloom import BloomState

    hosts_tbl = crawl._hosts_frame(
        spark.createDataFrame([("a.example",), ("b.example",)], "host string"))
    accepted = spark.createDataFrame(
        [(f"https://{h}/{i}", h) for i, h in enumerate(
            ["a.example", "c.example", "d.example", "c.example"])],
        "url string, host string")
    blobs = []
    for in_list in (crawl._HOSTS_IN_LIST, 0):
        monkeypatch.setattr(crawl, "_HOSTS_IN_LIST", in_list)
        seen = BloomState(n_buckets=4, bits_per_bucket=1 << 12)
        out = crawl._seen_update(spark, seen, accepted, hosts_tbl, one_batch=True)
        assert sorted(r["host"] for r in out.collect()) == ["c.example", "d.example"]
        blobs.append(seen.blobs.copy())
    assert (blobs[0] == blobs[1]).all() and blobs[0].any()
    known = crawl._seen_update(spark, BloomState(n_buckets=4, bits_per_bucket=1 << 12),
                               accepted.filter("host = 'a.example'"), hosts_tbl,
                               one_batch=True)
    assert known is None


def test_synthetic_hosts_roundtrip():
    """The engine's politeness state comes from parsing served robots.txt."""
    assert "Disallow: /section/1" in robots_txt("www.fmt.example")
    st = robots_for_host("www.fmt.example")
    assert st["disallow"] == ["/section/1"]
    kt = robots_for_host("www.ktimes.example")
    assert kt["crawl_delay_s"] == 1.0 and kt["budget_per_batch"] == 30
    default = robots_for_host("www.cna.example")
    assert default["disallow"] == [] and default["budget_per_batch"] == 60


def test_allow_parsing():
    txt = ("User-agent: *\nDisallow: /a\nAllow: /a/open\n"
           "User-agent: other\nAllow: /x\n")
    r = parse_robots_txt(txt)
    assert r["disallow"] == ["/a"] and r["allow"] == ["/a/open"]
    assert parse_robots_txt(txt, agent="other")["allow"] == ["/x"]


def test_rep_longest_match_semantics():
    """Google REP: longest matching rule wins, ties go to Allow;
    `*` matches any sequence, `$` anchors the end; no match → allowed."""
    from crawlspark.functions.robots import path_allowed

    # allow override: longer Allow beats shorter Disallow
    assert not path_allowed("/a/x", ["/a"], [])
    assert path_allowed("/a/open/x", ["/a"], ["/a/open"])
    assert not path_allowed("/a/closed", ["/a"], ["/a/open"])
    # longer Disallow beats shorter Allow
    assert not path_allowed("/a/open/secret", ["/a/open/secret"], ["/a/open"])
    # equal length: Allow wins
    assert path_allowed("/ab", ["/ab"], ["/ab"])
    # wildcard
    assert not path_allowed("/s/5/page/1", ["/s/*/page/1"], [])
    assert not path_allowed("/s/5/page/12", ["/s/*/page/1"], [])  # prefix
    assert path_allowed("/s/5/index", ["/s/*/page/1"], [])
    # $ end anchor: exact-end only
    assert not path_allowed("/s/5/page/1", ["/s/*/page/1$"], [])
    assert path_allowed("/s/5/page/12", ["/s/*/page/1$"], [])
    # no rules
    assert path_allowed("/anything", [], [])


def test_compiled_rx_equals_python_matcher():
    """The schedule()-side compiled 'blocked' regex (lookahead-guarded
    alternation) must agree with path_allowed on every path × rule-set
    combination — the engine and oracle twins can never drift."""
    import re

    from crawlspark.functions.robots import path_allowed
    from crawlspark.operators.scheduler import robots_rx_py

    rule_sets = [
        (["/a"], []),
        (["/a"], ["/a/open"]),
        (["/a/open/secret", "/b"], ["/a/open"]),
        (["/s/*/page/1$"], ["/s/3/page/1$"]),
        (["/section/2", "/section/*/page/1$"], ["/section/3/page/1$"]),
        (["/"], ["/public"]),
        ([], ["/x"]),
    ]
    paths = ["/", "/a", "/a/x", "/a/open", "/a/open/x", "/a/open/secret",
             "/b/c", "/s/3/page/1", "/s/5/page/1", "/s/5/page/12",
             "/section/2/page/0", "/section/3/page/1", "/section/4/page/1",
             "/section/4/page/10", "/public/doc", "/x", "/other"]
    for dis, alw in rule_sets:
        rx = robots_rx_py(dis, alw)
        for p in paths:
            blocked_rx = rx is not None and re.search(rx, p) is not None
            assert blocked_rx == (not path_allowed(p, dis, alw)), \
                (dis, alw, p)


def test_tstar_rep_rules_roundtrip():
    """The synthetic tstar host serves wildcard/$/Allow rules; the
    fetch+parse path must surface them exactly."""
    st = robots_for_host("www.tstar.example")
    assert st["disallow"] == ["/section/2", "/section/*/page/1$"]
    assert st["allow"] == ["/section/3/page/1$"]
