"""The benchmark's closed-loop workloads.

A workload prepares its inputs from the seed (untimed), then the harness
calls ``op()`` back to back until the run's seconds are spent.  Each op
returns the work items it completed, the per-unit durations the median is
taken over, and what ``check()`` needs to verify its output afterwards.
``trace()`` installs the span wrappers for the layers the workload drives
and ``layers()`` turns the recorded spans and forced-layer probes into
per-layer metrics.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import checks, probes
from perfbench.trace import Tracer, median, self_time


@dataclass
class OpResult:
    items: int
    units: list[float]  # wall seconds the op median is taken over
    payload: dict = field(default_factory=dict)


def _dir_stats(path: str | None) -> tuple[int, int]:
    if not path or not os.path.isdir(path):
        return 0, 0
    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def _commit_post(sp, args, kwargs, manifest) -> None:
    n_files = n_bytes = 0
    for entry in (manifest.get("lineage") or {}).values():
        if isinstance(entry, dict):
            f, b = _dir_stats(entry.get("path"))
            n_files += f
            n_bytes += b
    sp.attrs["files"] = n_files
    sp.attrs["bytes"] = n_bytes


def _delta_post(sp, args, kwargs, out) -> None:
    delta = out[0] if isinstance(out, tuple) else out
    sp.attrs["rows"] = int(delta.n_items.sum())


def install_crawl_spans(tracer: Tracer) -> None:
    """Spans around each crawl layer's public functions.  ``crawl.py``
    binds ``bloom_delta``, ``probe_unseen`` and ``fetch_parse_stage`` into
    its own namespace, so those are wrapped there as well."""
    import crawlspark.crawl as C
    from crawlspark.operators import pipeline, scheduler, urlseen
    from crawlspark.tables import SnapshotCatalog

    tracer.install(C, "run_batch", "crawl.run_batch")
    tracer.install(SnapshotCatalog, "commit", "tables.commit", post=_commit_post)
    tracer.install(scheduler, "schedule", "scheduler.schedule")
    for mod in (urlseen, C):
        tracer.install(mod, "bloom_delta", "urlseen.bloom_delta", post=_delta_post)
        tracer.install(mod, "probe_unseen", "urlseen.probe_unseen")
    for mod in (pipeline, C):
        tracer.install(mod, "fetch_parse_stage", "pipeline.fetch_parse_stage")


def crawl_layers(tracer: Tracer) -> dict:
    """Per-layer metrics of the spans under ``crawl.run_batch``."""
    batches = tracer.named("crawl.run_batch")
    out: dict = {}
    if batches:
        b = [s.dur for s in batches]
        out.update({
            "crawl.batches": len(b), "crawl.batch_s_p50": median(b), "crawl.batch_s_max": max(b),
            "crawl.spark_jobs_per_batch": sum(s.attrs["jobs"] for s in batches) / len(b),
            "crawl.spark_stages_per_batch": sum(s.attrs["stages"] for s in batches) / len(b),
            "crawl.spark_tasks_per_batch": sum(s.attrs["tasks"] for s in batches) / len(b),
        })
    commits = tracer.inside("tables.commit", "crawl.run_batch")
    if commits:
        out.update({
            "tables.commit_s": median([s.dur for s in commits]),
            "tables.commit_self_s": median([self_time(s, tracer.spans) for s in commits]),
            "tables.files_per_commit": sum(s.attrs["files"] for s in commits) / len(commits),
            "tables.bytes_per_commit": sum(s.attrs["bytes"] for s in commits) / len(commits),
        })
    deltas = tracer.inside("urlseen.bloom_delta", "crawl.run_batch")
    if deltas:
        out["urlseen.bloom_delta_s"] = median([s.dur for s in deltas])
        out["urlseen.bloom_delta_rows"] = median([s.attrs["rows"] for s in deltas])
    for name, key in (("scheduler.schedule", "scheduler.plan_s"),
                      ("urlseen.probe_unseen", "urlseen.plan_s"),
                      ("pipeline.fetch_parse_stage", "pipeline.plan_s")):
        spans = tracer.inside(name, "crawl.run_batch")
        if spans:
            out[key] = median([s.dur for s in spans])
    return out


def _probe_ratios(spark, candidates, bloom, n_fresh: int) -> dict:
    """Bloom positives among the candidates (JVM hashes, driver kernel)
    and the share of positives the exact check confirms as seen."""
    from crawlspark.operators.urlseen import _u64, _with_hashes

    pdf = _with_hashes(candidates.select("url")).select("_h1", "_h2").toPandas()
    n = len(pdf)
    pos = int(bloom.probe_hashes(_u64(pdf["_h1"]), _u64(pdf["_h2"])).sum())
    seen = n - n_fresh
    return {"urlseen.positive_ratio": pos / n if n else 0.0,
            "urlseen.exact_useful_ratio": seen / pos if pos else 1.0}


class Workload:
    name = ""
    warm_ops = 1  # untimed ops before the timed loop

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.workdir, f"{tag}-{self._n:03d}")

    def prepare(self) -> None:
        pass

    def op(self) -> OpResult:
        raise NotImplementedError

    def check(self, res: OpResult) -> list[str]:
        return []

    def trace(self, tracer: Tracer) -> None:
        pass

    def layers(self, tracer: Tracer) -> dict:
        return {}


class WideBatch(Workload):
    """One politeness-free ``run_batch`` over a frontier seeded with every
    article of the synthetic web.  Seeding is set-up; each op runs the
    batch, then rolls the warehouse back to the seeded snapshot."""

    name = "wide_batch"
    warm_ops = 2
    SCALE = 1.0

    def prepare(self) -> None:
        from crawlspark import synthetic
        from crawlspark.crawl import CrawlConfig, init_crawl
        from crawlspark.oracle import crawl_oracle
        from crawlspark.tables import SnapshotCatalog

        spec = self.spec = synthetic.WebSpec(scale=self.SCALE, epoch=self.seed % 8)
        hosts = sorted(spec.hosts)
        random.Random(self.seed).shuffle(hosts)  # preload order
        self.articles = [synthetic.article_url(h, a) for h in hosts
                         for a in range(spec.hosts[h]["n_articles"])]
        budget = 10 * len(self.articles)
        self.cfg = CrawlConfig(warehouse=self.fresh_dir("wide"), spec=spec,
                               seed_urls=self.articles, budget_override=budget,
                               expected_urls=1_000_000)
        self.catalog = SnapshotCatalog(self.spark, self.cfg.warehouse)
        t = time.perf_counter()
        self.base = init_crawl(self.spark, self.cfg)
        self.init_s = time.perf_counter() - t
        ora = crawl_oracle(spec, max_batches=1, budget_override=budget,
                           seed_urls=self.articles)
        self.n_pages = len(ora.progress)
        self.oracle_docs = checks.oracle_docs(ora)

    def op(self) -> OpResult:
        import crawlspark.crawl as C

        t = time.perf_counter()
        m = C.run_batch(self.spark, self.catalog, self.cfg, self.base)
        dt = time.perf_counter() - t
        self.catalog.rollback(self.base["snapshot_id"])
        return OpResult(self.n_pages, [dt], {"manifest": m})

    def check(self, res: OpResult) -> list[str]:
        m = res.payload["manifest"]
        bad = checks.compare_docs(checks.read_docs(self.catalog, m), self.oracle_docs)
        n = self.catalog.read("progress", m).count()
        if n != self.n_pages:
            bad.append(f"progress rows {n} vs oracle {self.n_pages}")
        return bad

    def trace(self, tracer: Tracer) -> None:
        install_crawl_spans(tracer)

    def layers(self, tracer: Tracer) -> dict:
        from crawlspark.crawl import _hosts_with_rx
        from crawlspark.operators.pipeline import fetch_parse_stage
        from crawlspark.operators.scheduler import schedule
        from crawlspark.operators.urlseen import probe_unseen

        out = crawl_layers(tracer)
        out["crawl.init_s"] = self.init_s  # seeding is set-up, so untraced
        spark, base = self.spark, self.base
        frontier = self.catalog.read("frontier", base)
        n_frontier = frontier.count()
        t = time.perf_counter()
        hosts = _hosts_with_rx(self.catalog.read("hosts", base), self.cfg.budget_override)
        sched = schedule(frontier, hosts, 1).persist()
        n_sched = sched.count()
        out["scheduler.schedule_s"] = time.perf_counter() - t
        out["scheduler.admitted_ratio"] = n_sched / n_frontier
        t = time.perf_counter()
        pipe = fetch_parse_stage(sched, self.spec).persist()
        pipe.count()
        stage_s = time.perf_counter() - t
        out["pipeline.stage_pages_per_s"] = n_sched / stage_s
        steps = probes.worker_steps(self.spec, [r["url"] for r in sched.select("url").collect()])
        per_page_s = sum(steps[f"pipeline.{k}_us"] for k in probes.WORKER_STEPS) / 1e6
        cores = spark.sparkContext.defaultParallelism
        out["pipeline.overhead_share"] = 1 - per_page_s * n_sched / (cores * stage_s)
        links = pipe.filter(F.col("rec") == "link").select(F.col("link").alias("url")).distinct()
        urlseen = self.catalog.read("urlseen", base)
        bloom = self.catalog.load_bloom(base)
        t = time.perf_counter()
        n_fresh = probe_unseen(spark, links, urlseen, bloom).count()
        out["urlseen.probe_s"] = time.perf_counter() - t
        out.update(_probe_ratios(spark, links, bloom, n_fresh))
        bloom.release()
        pipe.unpersist()
        sched.unpersist()
        return out


class FrontierDedup(Workload):
    """Insert a seen set into a fresh Bloom state (``bloom_delta`` +
    ``merge``), then probe a candidate set with ``probe_unseen`` and
    count it.  Every fifth candidate is a rediscovery of a seen key."""

    name = "frontier_dedup"
    warm_ops = 3  # rounds 2 and 3 still ran 10-30% slower than later ones
    N_SEEN, N_CAND, BUCKETS, BITS = 500_000, 2_000_000, 64, 1 << 18

    def prepare(self) -> None:
        off = self.seed * 10_000_000  # seed-disjoint key ranges
        mix = 7919 + 2 * self.seed  # odd multiplier: rediscovery order
        self.seen = self.spark.range(self.N_SEEN).select(
            F.concat(F.lit("https://www.h"), (F.col("id") % 1000).cast("string"),
                     F.lit(".example/p/"), (F.col("id") + off).cast("string")).alias("url"))
        redis = (F.col("id") * mix) % self.N_SEEN
        self.cand = self.spark.range(self.N_CAND).select(
            F.when(F.col("id") % 5 == 0,
                   F.concat(F.lit("https://www.h"), (redis % 1000).cast("string"),
                            F.lit(".example/p/"), (redis + off).cast("string")))
            .otherwise(F.concat(F.lit("https://www.new"), (F.col("id") % 1000).cast("string"),
                                F.lit(".example/q/"), (F.col("id") + off).cast("string")))
            .alias("url"))
        self.expected_fresh = self.N_CAND - (self.N_CAND + 4) // 5
        self.last_bloom = None

    def op(self) -> OpResult:
        from crawlspark.operators.bloom import BloomState
        from crawlspark.operators.urlseen import bloom_delta, probe_unseen

        bloom = BloomState(self.BUCKETS, self.BITS)
        t = time.perf_counter()
        bloom.merge(bloom_delta(self.spark, self.seen, bloom))
        n_fresh = probe_unseen(self.spark, self.cand, self.seen, bloom).count()
        dt = time.perf_counter() - t
        bloom.release()
        self.last_bloom = bloom
        return OpResult(self.N_SEEN + self.N_CAND, [dt],
                        {"n_fresh": n_fresh, "n_items": int(bloom.n_items.sum())})

    def check(self, res: OpResult) -> list[str]:
        bad = []
        if res.payload["n_fresh"] != self.expected_fresh:
            bad.append(f"fresh {res.payload['n_fresh']} vs {self.expected_fresh}")
        if res.payload["n_items"] != self.N_SEEN:
            bad.append(f"inserted {res.payload['n_items']} vs {self.N_SEEN}")
        return bad

    def trace(self, tracer: Tracer) -> None:
        from crawlspark.operators import urlseen

        tracer.install(urlseen, "bloom_delta", "urlseen.bloom_delta", post=_delta_post)
        tracer.install(urlseen, "probe_unseen", "urlseen.probe_unseen")

    def layers(self, tracer: Tracer) -> dict:
        deltas = tracer.named("urlseen.bloom_delta")
        probes_ = tracer.named("urlseen.probe_unseen")
        bloom = self.last_bloom
        insert_s = median([s.dur for s in deltas])
        probe_s = median([op.dur - d.dur for op, d in zip(tracer.named("op"), deltas)])
        out = {
            "urlseen.insert_keys_per_s": self.N_SEEN / insert_s,
            "urlseen.probe_keys_per_s": self.N_CAND / probe_s,
            "urlseen.bloom_delta_s": insert_s,
            "urlseen.bloom_delta_rows": median([s.attrs["rows"] for s in deltas]),
            "urlseen.plan_s": median([s.dur for s in probes_]),
            "bloom.fpr_estimate": bloom.fpr_estimate(),
            "bloom.state_bytes": bloom.state_bytes,
        }
        out.update(_probe_ratios(self.spark, self.cand, bloom, self.expected_fresh))
        return out


WORKLOADS = {w.name: w for w in (WideBatch, FrontierDedup)}
