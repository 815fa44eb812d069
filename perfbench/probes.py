"""Layer probes: one layer forced on its own input, outside any crawl.

Each returns a dict of per-layer metrics.  The in-process probes (Bloom
kernels, per-page worker steps) run in the driver's Python process; the
Spark probes measure one boundary each (JVM hashing alone, then the same
columns through an identity Arrow UDF) and the sample-query pack.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench.trace import median, tail_percentile

BLOOM_KEYS, BLOOM_REPS = 1_000_000, 3
QUERY_SF, QUERY_PASSES = 0.02, 2  # timed passes, after one untimed pass
BOUNDARY_ROWS = 2_000_000


def bloom_kernels(seed: int) -> dict:
    """``BloomState.add_hashes``/``probe_hashes`` on precomputed hashes."""
    from crawlspark.operators.bloom import BloomState

    n_keys = BLOOM_KEYS
    rng = np.random.default_rng(seed)
    h1 = rng.integers(0, 2**63, n_keys, dtype=np.int64).view(np.uint64)
    h2 = rng.integers(0, 2**63, n_keys, dtype=np.int64).view(np.uint64)
    add, probe = [], []
    for _ in range(BLOOM_REPS):
        st = BloomState(64, 1 << 20)
        t = time.perf_counter()
        st.add_hashes(h1, h2)
        add.append(time.perf_counter() - t)
        t = time.perf_counter()
        hit = st.probe_hashes(h1, h2)
        probe.append(time.perf_counter() - t)
        if not hit.all():  # every added key must probe positive
            raise RuntimeError("Bloom kernel lost an inserted key")
    return {"bloom.add_ns_per_key": median(add) / n_keys * 1e9,
            "bloom.probe_ns_per_key": median(probe) / n_keys * 1e9}


WORKER_STEPS = ("fetch", "decode", "hash", "parse", "clean", "date")


def worker_steps(spec, urls: list[str]) -> dict:
    """Per-page microseconds of each step of the fused fetch/parse worker,
    run sequentially in one Python process on the given frontier URLs,
    plus the whole page's median and tail (see ``tail_percentile``)."""
    from crawlspark import synthetic
    from crawlspark.functions.dates import parse_date_py
    from crawlspark.functions.textclean import clean_spans
    from crawlspark.functions.transfer import body_hash_py, decode_body_py
    from crawlspark.operators.parse import _parse_row

    tot = dict.fromkeys(WORKER_STEPS, 0.0)
    pc = time.perf_counter

    def page(url: str, t: float) -> None:
        status, final, raw, enc, _ms = synthetic.fetch_encoded(spec, url, 0)
        t1 = pc()
        body, err = decode_body_py(raw, enc)
        t2 = pc()
        body_hash_py(body)
        t3 = pc()
        tot["fetch"] += t1 - t
        tot["decode"] += t2 - t1
        tot["hash"] += t3 - t2
        if status != 200 or err:
            return
        kind, host, _ = synthetic.classify_url(url)
        recs = _parse_row(final or url, host, 1, "article" if kind == "article" else kind,
                          status, body, None)
        t4 = pc()
        tot["parse"] += t4 - t3
        for r in recs:
            if r["rec"] == "doc":
                t5 = pc()
                clean_spans([(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]])
                t6 = pc()
                parse_date_py(r["date_raw"])
                tot["clean"] += t6 - t5
                tot["date"] += pc() - t6

    page_us = []
    for url in urls:
        t = pc()
        page(url, t)
        page_us.append((pc() - t) * 1e6)
    out = {f"pipeline.{k}_us": v / len(urls) * 1e6 for k, v in tot.items()}
    out["pipeline.pages"] = len(urls)
    out["pipeline.page_us_p50"] = median(page_us)
    tail = tail_percentile(page_us)
    if tail:
        out["pipeline.page_tail_pct"], out["pipeline.page_us_tail"] = tail
    return out


def query_pack(spark, data_dir: str, seed: int, names: list[str]) -> tuple[dict, list[str]]:
    """The sample queries over seeded tables, each into a noop sink: one
    untimed pass, then the median of the timed passes per query
    and the Spark jobs per pass.  Afterwards each query's collected values
    are compared with its DuckDB oracle; returns (metrics, failures)."""
    import duckdb

    from crawlspark.queries import ORACLE_SQL, SPARK_QUERIES
    from perfbench import checks, datagen
    from perfbench.trace import JobCounter

    datagen.generate(data_dir, QUERY_SF, seed)
    jobs = JobCounter(spark)
    per: dict[str, list[float]] = {n: [] for n in names}
    n_jobs = []
    for i in range(QUERY_PASSES + 1):
        j0 = jobs.read()
        for name in names:
            t = time.perf_counter()
            SPARK_QUERIES[name](spark, data_dir).write.format("noop").mode("overwrite").save()
            if i:
                per[name].append(time.perf_counter() - t)
        if i:
            n_jobs.append(JobCounter.diff(j0, jobs.read())["jobs"])
    bad = []
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM '{os.path.join(data_dir, f)}'")
        for name in names:
            bad += [f"{name}: {d}" for d in checks.compare_frames(
                SPARK_QUERIES[name](spark, data_dir).toPandas(), con.sql(ORACLE_SQL[name]).df())]
    finally:
        con.close()
    out = {f"queries.{n}_s": median(v) for n, v in per.items()}
    out["queries.pack_s"] = sum(out.values())
    out["queries.spark_jobs"] = median(n_jobs)
    return out, bad


def _url_frame(spark, n: int, seed: int):
    return spark.range(n).select(
        F.concat(F.lit("https://www.h"), ((F.col("id") + seed) % 1000).cast("string"),
                 F.lit(".example/p/"), (F.col("id") + seed * 10_000_000).cast("string")).alias("url"))


def urlseen_boundary(spark, seed: int) -> dict:
    """Rows/s of the probe's two halves: the JVM ``xxhash64`` columns the
    Bloom probe ships, then those columns through an identity
    ``mapInArrow`` (the Arrow transfer without the numpy kernel)."""
    from crawlspark.operators.urlseen import _with_hashes

    hashed = _with_hashes(_url_frame(spark, BOUNDARY_ROWS, seed)).select("_h1", "_h2")
    agg = [F.bit_xor("_h1").alias("x1"), F.bit_xor("_h2").alias("x2")]

    def identity(batches):
        yield from batches

    out = {}
    for key, df in (("urlseen.hash_only_rows_per_s", hashed),
                    ("urlseen.arrow_identity_rows_per_s",
                     hashed.mapInArrow(identity, "_h1 long, _h2 long"))):
        for _ in range(2):  # the first run compiles the plan
            t = time.perf_counter()
            df.agg(*agg).collect()
        out[key] = BOUNDARY_ROWS / (time.perf_counter() - t)
    return out
