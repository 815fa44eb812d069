"""10^10-shape partitioned-Bloom probe evidence (BENCH/BLOOM_CAPACITY.md).

The capacity doc's 10^10 design point is 4,096 buckets × ~2 MB blobs
(~8.6 GB of filter state, far past broadcastability).  This script
MEASURES that shape instead of asserting it:

  1. writes 4,096 synthetic bucket blobs (2.1 MB each, random bits ≈ the
     ~50%-fill of a filter at design load → realistic ~0.8% FPR at k=7)
     DISTRIBUTED via mapInPandas — full state never exists in one place;
  2. probes a 4M-candidate shard per worker through the co-partitioned
     probe (probe_unseen over a BloomBucketStore: one bucket shuffle,
     per-task working set = one 2.1 MB blob) at TWO executor-emulation
     levels — W=1 and W=4 independent executor-shaped JVMs (local[2], 8g)
     over disjoint shards of the same store, barrier-started (the same
     N → 4N protocol as bench_scaling.py; single-JVM core scaling
     under-reports Python stages because Arrow transfer serializes per
     JVM);
  3. reports combined throughput at both levels + scaling efficiency.

Usage: python scripts/bench_bloom_shape.py [n_shard_per_worker]
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SETUP = r"""
import os, sys
import numpy as np
import pandas as pd
sys.path.insert(0, %(repo)r)
from crawlspark.session import get_spark
from crawlspark.operators.bloom import BloomBucketStore

store_dir = sys.argv[1]
NB, M = 4096, 1 << 24  # 4096 buckets x 2.1 MB blobs = 8.6 GB state
spark = get_spark("bloomshape-setup", master="local[16]", shuffle_partitions=32)

def gen(batches):
    for pdf in batches:
        rows = []
        for b in pdf["id"]:
            rng = np.random.default_rng(int(b))
            blob = rng.integers(0, 256, size=M // 8, dtype=np.uint8)
            p = os.path.join(store_dir, f"bucket-{int(b):05d}.npy")
            np.save(p, blob)
            rows.append((int(b), p))
        yield pd.DataFrame(rows, columns=["bucket", "path"])

rows = spark.range(NB).repartition(32).mapInPandas(gen, "bucket int, path string").collect()
paths = {r["bucket"]: r["path"] for r in rows}
BloomBucketStore(NB, M, 7, paths, {b: 1_700_000 for b in paths}).save(
    os.path.join(store_dir, "manifest.json"))
print("SETUP " + str(len(paths)))
spark.stop()
"""

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from crawlspark.session import get_spark
from pyspark.sql import functions as F
from crawlspark.operators.bloom import BloomBucketStore
from crawlspark.operators.urlseen import probe_unseen

cores = int(sys.argv[1]); widx = int(sys.argv[2]); n_shard = int(sys.argv[3])
ready_dir = sys.argv[4]; store_dir = sys.argv[5]
spark = get_spark(f"bloomshape{widx}", master=f"local[{cores}]",
                  shuffle_partitions=cores * 2,
                  extra_conf={"spark.driver.memory": "8g"})
store = BloomBucketStore.load(os.path.join(store_dir, "manifest.json"))
urlseen = spark.createDataFrame([], "url string")  # exact set not under test
lo = widx * n_shard
cand = spark.range(lo, lo + n_shard).select(
    F.concat(F.lit("https://www.h"), (F.col("id") %% 4096).cast("string"),
             F.lit(".example/p/"), F.col("id").cast("string")).alias("url"))
# warmup: touches all 4096 buckets (uniform hash) -> page cache + JIT hot
probe_unseen(spark, cand.limit(400_000), urlseen, store).count()
open(os.path.join(ready_dir, f"ready-{widx}"), "w").close()
while not os.path.exists(os.path.join(ready_dir, "go")):
    time.sleep(0.05)
t0 = time.time()
# NOTE: with the exact table empty, Bloom positives (~0.5^7 = 0.8%% of
# candidates at random-bit fill) survive the exact check, so the output
# count equals n_shard — the measured path is the bucket-shuffle probe +
# negative filter + the sliver's (trivial) join, which is what scales.
n_out = probe_unseen(spark, cand, urlseen, store).count()
dt = time.time() - t0
print("RESULT " + json.dumps({"widx": widx, "sec": dt, "n_out": n_out}))
spark.stop()
"""


def run_emulation(n_workers: int, n_shard: int, store_dir: str,
                  cores_each: int = 2) -> dict:
    ready_dir = tempfile.mkdtemp(prefix="bloomshape-rdy-")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", WORKER % {"repo": str(REPO)},
             str(cores_each), str(i), str(n_shard), ready_dir, store_dir],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            env=dict(os.environ, SPARK_GRAFT_CPUS=str(cores_each)),
        )
        for i in range(n_workers)
    ]
    deadline = time.time() + 900
    while time.time() < deadline:
        if sum(os.path.exists(os.path.join(ready_dir, f"ready-{i}"))
               for i in range(n_workers)) == n_workers:
            break
        time.sleep(0.2)
    open(os.path.join(ready_dir, "go"), "w").close()
    res = []
    for p in procs:
        out, _ = p.communicate(timeout=1200)
        for line in out.splitlines():
            if line.startswith("RESULT "):
                res.append(json.loads(line[len("RESULT "):]))
    assert len(res) == n_workers, f"workers failed: {len(res)}/{n_workers}"
    wall = max(r["sec"] for r in res)
    return {"workers": n_workers, "wall_sec": wall,
            "ops_per_sec": n_workers * n_shard / wall}


def main():
    n_shard = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    store_dir = tempfile.mkdtemp(prefix="bloomshape-store-")
    try:
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "-c", SETUP % {"repo": str(REPO)}, store_dir],
            capture_output=True, text=True, timeout=1800)
        assert "SETUP 4096" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
        setup_sec = time.time() - t0
        print(f"setup: 4096 x 2.1MB blobs written distributed in {setup_sec:.1f}s")

        e1 = min((run_emulation(1, n_shard, store_dir) for _ in range(2)),
                 key=lambda r: r["wall_sec"])
        e4 = min((run_emulation(4, n_shard, store_dir) for _ in range(2)),
                 key=lambda r: r["wall_sec"])
        eff = e4["ops_per_sec"] / e1["ops_per_sec"] / 4
        print(json.dumps({
            "shape": "4096 buckets x 2.1MB (8.6GB state), k=7",
            "setup_sec": round(setup_sec, 1),
            "w1": {k: round(v, 3) if isinstance(v, float) else v for k, v in e1.items()},
            "w4": {k: round(v, 3) if isinstance(v, float) else v for k, v in e4.items()},
            "efficiency_1_to_4": round(eff, 3),
        }))
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
