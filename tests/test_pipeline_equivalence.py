"""The fused fetch+parse+clean stage against the single-threaded oracle:
one batch over the same frontier must yield the same documents, span for
span, and the same discovered links — fusion is a physical optimization,
never a semantic one."""

from pyspark.sql import functions as F

from crawlspark import synthetic
from crawlspark.functions import urls as U
from crawlspark.operators.pipeline import docs_from_pipe, fetch_parse_stage
from crawlspark.oracle import crawl_oracle


def _frontier(spark, spec, n=80):
    hosts = sorted(spec.hosts)
    host = F.element_at(F.array(*[F.lit(h) for h in hosts]), (F.col("id") % len(hosts) + 1).cast("int"))
    n_art = min(c["n_articles"] for c in spec.hosts.values())
    # every 5th URL is an ALIAS form (wrong -s suffix) that the synthetic
    # web redirects to the canonical article URL — pins the stage to the
    # oracle under redirects (link rows must be keyed by final_url)
    slug = F.when(
        F.col("id") % 5 == 0, F.lit("-salias")
    ).otherwise(F.concat(F.lit("-s"), ((F.col("id") % n_art) % 7).cast("string")))
    return spark.range(n).select(
        F.concat(F.lit("https://"), host, F.lit("/news/"),
                 (F.col("id") % n_art).cast("string"), slug).alias("url"),
        F.xxhash64("id").alias("url_hash"), host.alias("host"),
        F.lit(1).alias("depth"), F.lit(0.0).alias("priority"),
        F.lit(0).alias("discovered_batch"), F.lit(0).alias("retry_count"),
        F.lit(0).alias("not_before_batch"), F.lit("article").alias("page_kind"),
        F.lit(None).cast("struct<title:string,date:string,article_url:string>").alias("meta"),
    ).dropDuplicates(["url"])


def _spans(spans):
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans)


def test_fused_stage_equals_oracle(spark):
    spec = synthetic.WebSpec(scale=0.2)
    frontier = _frontier(spark, spec).persist()
    urls = [r["url"] for r in frontier.select("url").collect()]
    ora = crawl_oracle(spec, max_batches=1, budget_override=10**6, seed_urls=urls)

    pipe = fetch_parse_stage(frontier, spec).persist()
    docs = {
        r["doc_id"]: _spans(r["spans"])
        for r in docs_from_pipe(pipe.filter(F.col("rec") == "doc"), 1).collect()
    }
    links = {
        r["link"] for r in pipe.filter(F.col("rec") == "link").collect()
        if not U.should_skip_py(r["link"])
    }
    redirected = pipe.filter(
        (F.col("rec") == "fetch") & (F.col("final_url") != F.col("url"))
    ).count()

    assert docs == {d: _spans(v["spans"]) for d, v in ora.docs.items()}
    assert len(docs) > 0 and redirected > 0
    assert links | set(urls) == ora.seen
    pipe.unpersist()
    frontier.unpersist()


def test_fused_stage_pluggable_fetcher(spark):
    """S3/S4 seam: a custom fetcher (stand-in for the Selenium/Playwright
    middlewares) plugs into the SAME fused stage — rows flow through the
    identical decode→parse→clean path."""
    spec = synthetic.WebSpec(scale=0.2)
    frontier = _frontier(spark, spec, n=12)

    frontier = frontier.withColumn(
        "page_kind",
        F.when(F.col("url").endswith("-s1"), F.lit("listing")).otherwise(F.lit("article")),
    )

    def js_rendered_fetch(url, attempt):
        html = (
            '<html><body><h1>Rendered '
            + url.rsplit("/", 1)[1]
            + '</h1><div class="article-body"><p>JS rendered body for '
            + url
            + '.</p></div><a href="https://www.cna.example/news/0-s0">next</a>'
            + "</body></html>"
        )
        return 200, url, html.encode(), None, 5

    pipe = fetch_parse_stage(frontier, spec, fetch_fn=js_rendered_fetch)
    rows = pipe.collect()
    docs = [r for r in rows if r["rec"] == "doc"]
    links = [r for r in rows if r["rec"] == "link"]
    n_listing = frontier.filter("page_kind = 'listing'").count()
    # article rows parse to docs; listing rows emit the rendered page's links
    assert len(docs) == 12 - n_listing > 0
    assert all("JS rendered body" in d["spans"][0]["text"] for d in docs)
    assert len(links) == n_listing > 0
    assert all(l["link"] == "https://www.cna.example/news/0-s0" for l in links)
    fetches = [r for r in rows if r["rec"] == "fetch"]
    assert all(r["status"] == 200 and not r["decode_error"] for r in fetches)


def test_host_partitioning_gives_connection_locality(spark):
    """WHY the fetch stage partitions by (host, salt): a real fetcher keeps
    one connection pool per Python worker, so rows of the same host landing
    in the same partition reuse connections.  A counting fetcher (new
    per-worker host => 'connection open', encoded in elapsed_ms) proves the
    bound: total opens <= partitions x distinct hosts, far below one-per-
    fetch (what a random partitioning would approach at high host counts)."""
    import pandas as pd  # noqa: F401

    spec = synthetic.WebSpec(scale=0.2)
    hosts = sorted(spec.hosts)
    n_pages, n_hosts = 4000, len(hosts)
    host = F.element_at(F.array(*[F.lit(h) for h in hosts]), (F.col("id") % n_hosts + 1).cast("int"))
    n_art = min(c["n_articles"] for c in spec.hosts.values())
    frontier = spark.range(n_pages).select(
        F.concat(F.lit("https://"), host, F.lit("/news/"),
                 (F.col("id") % n_art).cast("string"), F.lit("-s"),
                 ((F.col("id") % n_art) % 7).cast("string")).alias("url"),
        F.xxhash64("id").alias("url_hash"), host.alias("host"),
        F.lit(1).alias("depth"), F.lit(0.0).alias("priority"),
        F.lit(0).alias("discovered_batch"), F.lit(0).alias("retry_count"),
        F.lit(0).alias("not_before_batch"), F.lit("article").alias("page_kind"),
        F.lit(None).cast("struct<title:string,date:string,article_url:string>").alias("meta"),
    )

    def counting_fetch(url, attempt):
        # per-PROCESS connection table (one python worker = one pool)
        import builtins
        pool = getattr(builtins, "_conn_pool_test", None)
        if pool is None:
            pool = set()
            builtins._conn_pool_test = pool
        h = url.split("/")[2]
        new = h not in pool
        pool.add(h)
        status, final, body, elapsed = synthetic.fetch(
            synthetic.WebSpec(scale=0.2), url, attempt)
        return status, final, (body or "").encode("utf-8"), None, (1000 if new else 1)

    n_parts = 16
    pipe = fetch_parse_stage(frontier, spec, num_partitions=n_parts,
                             fetch_fn=counting_fetch)
    total = (pipe.filter(F.col("rec") == "fetch")
             .agg(F.sum("elapsed_ms").alias("s"), F.count("*").alias("n"))
             .collect()[0])
    n_opens = (total["s"] - total["n"]) // 999
    assert total["n"] == n_pages
    # workers persist across tasks, so opens <= workers x hosts; the bound
    # that matters is "far below one per fetch"
    assert n_opens <= n_parts * n_hosts
    assert n_opens < n_pages / 10, (n_opens, n_pages)
