"""Headline benchmark — prints ONE JSON line.

Workloads (BASELINE.json metric: pages fetched/sec + frontier-dedup
ops/sec):
  * crawl_e2e      — full micro-batch crawl loop (schedule→fetch→parse→
                     dedup→commit) on the deterministic synthetic web
  * dedup_1m       — 1M candidate URLs through Bloom probe + exact
                     anti-join fallback against a 200k seen set
  * fetch_parse_20k— 20k pages through fetch→parse→clean (politeness-free
                     throughput of the pipeline stages)
  * query-pack sample — representative operators at $SPARK_GRAFT_SF_DIR

Noise control (the sandbox shares its host; same-code spread up to ~2×
under external load, see BENCH/BASELINE.md): every repeatable workload
runs N times and the headline number is the MIN (the least-contended
observation of the same code); all runs are recorded under
throughput.spread, and 1-min load averages are sampled before/after the
expensive workloads so a regression in BENCH_r{N}.json is attributable
to code vs host load.  crawl_e2e runs once (it dominates wall time) with
its own load markers.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     SPARK_GRAFT_BENCH_REPEATS (default 3 for the cheap workloads).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crawlspark import benchlib  # noqa: E402
from crawlspark.queries import SPARK_QUERIES  # noqa: E402
from crawlspark.session import get_spark  # noqa: E402

SAMPLE_QUERIES = [
    "tpch_pricing_summary",
    "revenue_by_nation",
    "dedup_minhash_lsh",
    "embed_cosine_topk",
    "events_sessionize",
    "url_skip_filter",
    "paragraph_boilerplate",
    "ann_ivf_topk",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.1
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    spark = get_spark("bench")
    queries: dict[str, float] = {}
    extra: dict = {}
    spread: dict[str, list[float]] = {}
    loads: dict[str, float] = {}

    def mark(label: str) -> None:
        loads[label] = round(os.getloadavg()[0], 2)

    def rec(name: str, runs: list[float]) -> None:
        queries[name] = min(runs)
        if len(runs) > 1:
            spread[name] = runs

    wh = tempfile.mkdtemp(prefix="benchwh-")
    try:
        mark("start")
        # warmup: first Spark job of a session pays JVM codegen + python
        # worker-pool spin-up (~4-8s); pay it here so crawl_e2e measures
        # the crawl loop, not session startup
        benchlib.bench_fetch_parse(spark, n_pages=1000)
        # crawl-path warmup: the FIRST crawl of a session additionally pays
        # whole-stage-codegen JIT for the loop's plan shapes — measured
        # same-session spread 76 s → 34 s across four identical runs, far
        # larger than any code change.  A tiny throwaway crawl compiles
        # those shapes so the measured run is the engine, not JIT state
        # (round-5 methodology change; r04's crawl_e2e paid the cold cost).
        wh0 = tempfile.mkdtemp(prefix="benchwarm-")
        try:
            benchlib.bench_crawl(spark, wh0, scale=0.05)
        finally:
            shutil.rmtree(wh0, ignore_errors=True)
        mark("after_warmup")

        c = benchlib.bench_crawl(spark, wh, scale=0.5)
        mark("after_crawl_e2e")
        queries["crawl_e2e"] = round(c["sec"], 3)
        extra["crawl_pages_per_sec"] = round(c["pages_per_sec"], 1)
        extra["crawl_docs"] = c["n_docs"]

        rec("dedup_4m", [
            round(benchlib.bench_dedup(spark, n_candidates=4_000_000,
                                       n_seen=500_000)["sec"], 3)
            for _ in range(repeats)
        ])
        extra["dedup_ops_per_sec"] = round(4_000_000 / queries["dedup_4m"], 0)

        rec("dedup_partitioned_4m", [
            round(benchlib.bench_dedup(spark, n_candidates=4_000_000,
                                       n_seen=500_000, partitioned=True)["sec"], 3)
            for _ in range(repeats)
        ])
        extra["dedup_partitioned_ops_per_sec"] = round(
            4_000_000 / queries["dedup_partitioned_4m"], 0)

        rec("fetch_parse_20k", [
            round(benchlib.bench_fetch_parse(spark, n_pages=20_000)["sec"], 3)
            for _ in range(repeats)
        ])
        extra["fetch_parse_pages_per_sec"] = round(
            20_000 / queries["fetch_parse_20k"], 1)

        # decode-off twin: isolates the S9 transfer-decode + cache-hash
        # cost so pipeline numbers stay comparable across rounds
        rec("fetch_parse_20k_nodecode", [
            round(benchlib.bench_fetch_parse(spark, n_pages=20_000,
                                             decode=False)["sec"], 3)
            for _ in range(repeats)
        ])
        extra["fetch_parse_nodecode_pages_per_sec"] = round(
            20_000 / queries["fetch_parse_20k_nodecode"], 1)

        mark("before_wide_batch")
        wb_runs = []
        wb_pages = None
        for _ in range(min(max(repeats, 1), 2)):  # capped at 2: ~12-18s each
            wh2 = tempfile.mkdtemp(prefix="benchwb-")
            try:
                wb = benchlib.bench_crawl_batch(spark, wh2, scale=40.0)
                wb_runs.append(round(wb["sec"], 3))
                wb_pages = wb
            finally:
                shutil.rmtree(wh2, ignore_errors=True)
        mark("after_wide_batch")
        rec("crawl_wide_batch_46k", wb_runs)
        extra["crawl_batch_pages_per_sec"] = round(
            wb_pages["pages_per_sec"] * wb_pages["sec"] / queries["crawl_wide_batch_46k"], 1)

        for name in SAMPLE_QUERIES:
            runs = []
            for _ in range(repeats):
                t0 = time.time()
                SPARK_QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
            rec(name, runs)
        mark("end")
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        spark.stop()

    total = round(sum(queries.values()), 3)
    extra["spread"] = spread
    extra["load_avg_1min"] = loads
    print(json.dumps({
        "metric": "crawl+dedup+parse+querypack wall time",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "throughput": extra,
    }))


if __name__ == "__main__":
    main()
