"""SparkSession factory tuned for the crawl engine.

Local-mode defaults follow the machine: one task slot per CPU this process
may run on, and a quarter of physical memory as the driver heap.
SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM override them.  On a real
cluster the same builder is used via ``spark-submit --py-files`` and the
master/memory settings come from the submit command instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Task slots, and the default shuffle partition count: at sf0.1 each
# shuffle partition holds a few MB; on a 1000-executor cluster the same
# code paths scale by raising spark.sql.shuffle.partitions via --conf (AQE
# coalesces the small case).
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
# The JVM's resident size grows well past its heap, and the machine may be
# shared: a quarter of physical memory, at least 1 GiB.
_PHYS_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1024, _PHYS_MB // 4)}m"

# the directory holding the crawlspark package: Python workers import
# crawlspark from here whatever the driver's working directory is
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "crawlspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with crawl-engine defaults.

    AQE is on (runtime coalescing + skew-join handling — hot hosts in the
    frontier are the expected skew source, cf. reference seed-host skew at
    covid_news_spider.py:299-305).  Arrow is on: every non-SQL operator in
    this engine is a pandas UDF over Arrow batches (no per-row Python UDFs).
    The package root goes on the executors' PYTHONPATH, so UDFs that import
    crawlspark work when the driver runs from any directory.
    """
    master = master or f"local[{CPUS}]"
    sp = shuffle_partitions or CPUS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        # Arrow batch sizing is BYTE-bounded (guide §4.2): wide document
        # rows (KB-scale bodies/spans) still land ~1-3k rows per batch
        # under the 16 MB cap, while narrow rows (the 16-byte hash pairs
        # the Bloom probe ships) now amortize the Python round-trip over
        # 64k-row batches instead of 2048 — measured 32x fewer worker
        # round-trips on the frontier-dedup path, same per-batch memory
        # bound at any row width.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        # every limit().collect() in the engine is over batch-bounded data
        # (the crawl loop's capped state collect, the hosts-dim cap), where
        # executeTake's 1→4→16→… partition ramp only adds 2-3 driver job
        # rounds per micro-batch before reading what one round could
        .config("spark.sql.limit.initialNumPartitions", "512")
        .config("spark.driver.memory", DRIVER_MEM)
        .config("spark.ui.enabled", "false")
        # snapshot commits write many small per-table delta files; skip the
        # _SUCCESS marker FS round-trips on every one
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # spill-awareness: cap scan partition size so a partition of wide
        # document rows (spans arrays) stays well inside executor memory at
        # any table size; AQE advisory size keeps shuffle partitions aligned
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(32 * 1024 * 1024))
        # a crawl batch's plans generate ~120 classes; with Spark's default
        # 100-entry cache every batch compiled them all again (~1,080
        # Janino compiles per scale-0.1 crawl), with room for 1024 a
        # repeated batch compiles almost none
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
