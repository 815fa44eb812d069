"""Quick dev smoke: run a tiny crawl, compare against the oracle."""

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from crawlspark import synthetic
from crawlspark.crawl import CrawlConfig, run_crawl
from crawlspark.oracle import crawl_oracle
from crawlspark.session import get_spark


def main():
    spec = synthetic.WebSpec(scale=0.25)
    print("seeds:", synthetic.seed_urls(spec))
    wh = tempfile.mkdtemp(prefix="crawlwh-")
    spark = get_spark("smoke", master="local[8]", shuffle_partitions=8)
    try:
        summary = run_crawl(spark, CrawlConfig(warehouse=wh, spec=spec, max_batches=40, budget_override=25))
        print({k: v for k, v in summary.items() if k != "manifest"})
        ora = crawl_oracle(spec, max_batches=40, budget_override=25)
        print("oracle:", {"batches": ora.batches, "docs": len(ora.docs),
                          "progress": len(ora.progress), "seen": len(ora.seen)})

        from crawlspark.tables import SnapshotCatalog
        cat = SnapshotCatalog(spark, wh)
        m = summary["manifest"]
        eng_seen = {r["url"] for r in cat.read("urlseen", m).collect()}
        print("seen equal:", eng_seen == ora.seen,
              "| eng-only:", list(eng_seen - ora.seen)[:5],
              "| ora-only:", list(ora.seen - eng_seen)[:5])
        eng_prog = {(r["url"], r["batch_id"], r["attempt"], r["outcome"])
                    for r in cat.read("progress", m).collect()}
        ora_prog = {(u, b, a, o) for (u, b, a, o, s) in ora.progress}
        print("progress equal:", eng_prog == ora_prog,
              "| eng-only:", list(eng_prog - ora_prog)[:5],
              "| ora-only:", list(ora_prog - eng_prog)[:5])
        eng_docs = {}
        for r in cat.read("documents", m).collect():
            eng_docs[r["doc_id"]] = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        ora_docs = {d: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in v["spans"]]
                    for d, v in ora.docs.items()}
        print("doc ids equal:", set(eng_docs) == set(ora_docs),
              len(eng_docs), len(ora_docs))
        bad = [d for d in eng_docs if eng_docs[d] != ora_docs.get(d)]
        print("span mismatches:", len(bad))
        if bad:
            d = bad[0]
            print("ENG:", eng_docs[d][:6])
            print("ORA:", ora_docs.get(d, [])[:6])
    finally:
        spark.stop()
        shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
