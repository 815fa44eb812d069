"""Verify probe: (a) kill-and-resume from snapshot equals uninterrupted run;
(b) local[4] equals local[8] (parallelism invariance)."""

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from crawlspark import synthetic
from crawlspark.crawl import CrawlConfig, run_crawl
from crawlspark.session import get_spark
from crawlspark.tables import SnapshotCatalog


def table_sets(spark, wh):
    cat = SnapshotCatalog(spark, wh)
    m = cat.latest()
    seen = {r["url"] for r in cat.read("urlseen", m).collect()}
    prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"]) for r in cat.read("progress", m).collect()}
    docs = {}
    for r in cat.read("documents", m).collect():
        docs[r["doc_id"]] = tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"])
    return seen, prog, docs


def main():
    spec = synthetic.WebSpec(scale=0.15)
    wh_full, wh_part = tempfile.mkdtemp(), tempfile.mkdtemp()

    spark8 = get_spark("probe8", master="local[8]", shuffle_partitions=8)
    run_crawl(spark8, CrawlConfig(warehouse=wh_full, spec=spec, max_batches=30, budget_override=20, compact_every=3))
    full = table_sets(spark8, wh_full)

    # interrupted run: stop after 2 batches, then resume to completion
    run_crawl(spark8, CrawlConfig(warehouse=wh_part, spec=spec, max_batches=2, budget_override=20, compact_every=3))
    part_mid = SnapshotCatalog(spark8, wh_part).latest()
    print("interrupted at batch:", part_mid["batch_id"])
    run_crawl(spark8, CrawlConfig(warehouse=wh_part, spec=spec, max_batches=30, budget_override=20, compact_every=3), resume=True)
    resumed = table_sets(spark8, wh_part)
    print("RESUME: seen==", full[0] == resumed[0], "prog==", full[1] == resumed[1], "docs==", full[2] == resumed[2])
    spark8.stop()

    # parallelism invariance: fresh JVM at local[4], different shuffle partitions
    wh4 = tempfile.mkdtemp()
    spark4 = get_spark("probe4", master="local[4]", shuffle_partitions=5)
    run_crawl(spark4, CrawlConfig(warehouse=wh4, spec=spec, max_batches=30, budget_override=20, compact_every=3))
    p4 = table_sets(spark4, wh4)
    print("PARALLELISM: seen==", full[0] == p4[0], "prog==", full[1] == p4[1], "docs==", full[2] == p4[2])
    print("sizes:", len(full[0]), len(full[1]), len(full[2]))
    spark4.stop()
    for w in (wh_full, wh_part, wh4):
        shutil.rmtree(w, ignore_errors=True)


if __name__ == "__main__":
    main()
