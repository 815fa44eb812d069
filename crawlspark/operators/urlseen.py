"""URL-seen dedup: Bloom probe → exact anti-join fallback (SURVEY §2.3 J1).

The reference's dupefilter (settings.py:107) is a single in-memory
fingerprint set; at 10^10 URLs that set does not fit one machine, so here:

  1. in-batch ``dropDuplicates('url')`` (reference analog: the per-crawl
     set() dedup, :571) — cheap, before any state probe;
  2. key hashing happens JVM-side: h1 = xxhash64(url), h2 = xxhash64(salt,
     url) — the probe UDF is pure numpy bit math over Arrow batches.
     Negatives are *guaranteed unseen* (no false negatives) and bypass the
     join;
  3. only Bloom positives — a tiny slice at the configured FPR — hit the
     exact LEFT ANTI join against the urlseen table, so the expensive
     join's probe side shrinks by ~(1-FPR);
  4. the Bloom delta for accepted keys is computed distributed
     (groupBy(bucket).applyInPandas → one row per touched bucket, bucket =
     pmod(h1, n_buckets), which matches the uint64 view because n_buckets
     is a power of two) — state per bucket stays executor-sized at any
     scale.

This module and operators/bloom.py are the only places that know which
layout a seen state has: ``probe_unseen`` and ``bloom_delta`` take any of
them (bloom.BloomState, bloom.BloomBucketStore, and for the probe
cuckoo.CuckooState), and ``state.merge(delta)`` folds an update in.
Given ``one_batch=True`` they also choose where a batch runs: on the
driver when the state is driver-held and the batch is small, else on the
executors.
"""

from __future__ import annotations

import itertools
import os
import uuid
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlspark.functions.urls import sql_lit
from crawlspark.operators.bloom import BloomBucketStore, BloomState

_H2_SALT = "bloom-h2"
_VIEW_SEQ = itertools.count()

# The key hashes the bit kernels take, as SQL select items.  The bits are
# part of every committed Bloom state: changing them breaks resume.
HASH_SQL = ["xxhash64(url) AS _h1", f"xxhash64({sql_lit(_H2_SALT)}, url) AS _h2"]


def bucket_sql(n_buckets: int) -> str:
    return f"CAST(pmod(xxhash64(url), {sql_lit(n_buckets)}) AS INT) AS bucket"


def _with_hashes(df: DataFrame) -> DataFrame:
    return df.selectExpr("*", *HASH_SQL)


def _u64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64).view(np.uint64)


def _split_and_verify(spark: SparkSession, probed: DataFrame, urlseen: DataFrame,
                      one_batch: bool, drop: tuple) -> DataFrame:
    """probed(+maybe_seen) → unseen rows: guaranteed-fresh negatives UNION
    the exactly-verified Bloom-positive sliver.

    ``one_batch=False`` verifies the positives with a plain LEFT ANTI
    join, which shuffles both sides.  ``one_batch=True`` (the crawl loop)
    relies on the sliver being batch-bounded: it BROADCASTS
    the positive ids and verifies with a broadcast LEFT SEMI **scan** of
    urlseen followed by a broadcast anti-join against the hits, so the
    10^10-row seen table is only ever scanned (column-pruned to url),
    never repartitioned.  It is ONE spark.sql statement over temp views
    instead of the 8-op DataFrame chain (2 filters, 2 drops, distinct, 2
    broadcast joins, union) — ~3 py4j roundtrips instead of ~15 per
    politeness batch.

    One probe pass, not three: the fresh branch, the positive branch, and
    the positive-id broadcast each re-reference the probed subtree, and
    Catalyst inlines it per reference — the probe UDF (candidate
    generation + double xxhash + a full Arrow round-trip) was executing
    2-3x per call.  Keying the branches behind one url-hash exchange lets
    ReuseExchange dedup the subtree to a single execution (guide §2.4:
    operations keyed the same way share one exchange); the shuffle moves
    each candidate row once, which is strictly cheaper than recomputing
    the probe on every branch.  The maybe_seen flag is re-projected behind
    a materialize_once Generate barrier so the per-branch filters cannot
    be pushed below the exchange (pushed-down filters make the branch
    subtrees differ, and ReuseExchange only dedups identical subtrees).
    """
    from crawlspark.plans import materialize_once

    probed = materialize_once(
        probed.repartition(F.col("url")).withColumnRenamed("maybe_seen", "_ms_raw"),
        maybe_seen=F.col("_ms_raw"),
    ).drop("_ms_raw")
    if not one_batch:
        fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen", *drop)
        positives = probed.filter(F.col("maybe_seen")).drop("maybe_seen", *drop)
        return fresh.unionByName(
            positives.join(urlseen.select("url"), on="url", how="left_anti")
        )
    keep = ", ".join(
        f"`{c}`" for c in probed.columns if c != "maybe_seen" and c not in drop
    )
    # unique view names per call: createOrReplaceTempView + spark.sql on
    # fixed names would be a read-modify race if two probes ever ran
    # concurrently in one session (spark.sql analyzes eagerly, but a
    # replace landing between B's register and B's sql would silently
    # rebind B's query to A's batch)
    n = next(_VIEW_SEQ)
    pv, uv = f"cs_probe_t_{n}", f"cs_urlseen_t_{n}"
    probed.createOrReplaceTempView(pv)
    urlseen.createOrReplaceTempView(uv)
    out = spark.sql(f"""
        WITH pos AS (SELECT {keep} FROM {pv} WHERE maybe_seen),
             hits AS (SELECT /*+ BROADCAST(ids) */ u.url FROM {uv} u
                      LEFT SEMI JOIN (SELECT DISTINCT url FROM pos) ids
                      ON u.url = ids.url)
        SELECT {keep} FROM {pv} WHERE NOT maybe_seen
        UNION ALL
        SELECT /*+ BROADCAST(hits) */ p.* FROM pos p
        LEFT ANTI JOIN hits ON p.url = hits.url
    """)
    # the DataFrame captured the plans at analysis; drop the catalog entries
    spark.catalog.dropTempView(pv)
    spark.catalog.dropTempView(uv)
    return out


_SMALL_BATCH_CAP = 50_000


def _driver_hashes(df: DataFrame, keep: list) -> pd.DataFrame | None:
    """``df``'s (_h1, _h2, *keep) rows on the driver through Arrow, the url
    hashes computed JVM-side — or None when there are more than
    _SMALL_BATCH_CAP of them.  limit(cap+1) bounds the collect whatever
    the batch holds."""
    pdf = df.selectExpr(*HASH_SQL, *keep).limit(_SMALL_BATCH_CAP + 1).toPandas()
    return None if len(pdf) > _SMALL_BATCH_CAP else pdf


def probe_unseen(spark: SparkSession, candidates: DataFrame, urlseen: DataFrame,
                 state, one_batch: bool = False) -> DataFrame:
    """candidates(url, …) → subset whose url was never seen before.

    ``state`` is any URL-seen layout.  A ``BloomState`` or ``CuckooState``
    ships whole in one broadcast (zero shuffle).  A ``BloomBucketStore``
    broadcasts only its bucket→file manifest: candidates shuffle ONCE on
    bucket = pmod(h1, n_buckets) and each task loads only its buckets'
    blobs (local FS here, object store on a real cluster), so the per-task
    working set is one blob whatever the total state size.  Positives of
    every layout are verified against ``urlseen``, the matching exact set.

    ``one_batch=True``: the candidates are one crawl batch's, so their
    Bloom positives are few (see _split_and_verify).  A ``BloomState``,
    which the driver holds, then probes a batch of at most
    _SMALL_BATCH_CAP candidates on the driver: their (url, h1, h2) come
    over once through Arrow, the same ``probe_hashes`` kernel picks the
    positives, one broadcast semi-scan of urlseen finds which were really
    seen, and the candidates anti-join that broadcast hit set — one
    collect and one scan in place of the pandas UDF and its two shuffles.
    A larger batch takes the distributed probe below.
    """
    if one_batch and isinstance(state, BloomState):
        pdf = _driver_hashes(candidates, ["url"])
        if pdf is not None:
            pos = pdf["url"][state.probe_hashes(_u64(pdf["_h1"]), _u64(pdf["_h2"]))]
            if pos.empty:
                return candidates
            ids = spark.createDataFrame(pd.DataFrame({"url": pos}), "url string")
            hits = urlseen.select("url").join(F.broadcast(ids), on="url", how="left_semi")
            return candidates.join(F.broadcast(hits.withColumnRenamed("url", "_hit")),
                                   F.col("url") == F.col("_hit"), how="left_anti")
    # cached per state version — NOT a fresh broadcast per micro-batch
    # (that accumulated executor copies unboundedly); the crawl loop calls
    # state.release() after each batch's commit
    b = state.broadcast(spark)

    # vectorized pandas_udf over JUST the hash columns (guide §4.1: pass
    # only what the function needs) — shipping every candidate column (url
    # string + frontier metadata) through the Python worker and back was
    # ~5x the Arrow bytes for the same numpy bit math.
    if isinstance(state, BloomBucketStore):
        m, k = state.m, state.k

        # rows are SORTED by bucket within each partition, so blobs stream
        # through one at a time and the single cached blob is the task's
        # working set
        @F.pandas_udf("boolean")
        def probe(it: Iterator[Tuple[pd.Series, pd.Series, pd.Series]]
                  ) -> Iterator[pd.Series]:
            cur_b, cur = None, None
            for h1s, h2s, bks in it:
                h1, h2, bk = _u64(h1s), _u64(h2s), bks.to_numpy(dtype=np.int64)
                out = np.zeros(len(bk), dtype=bool)
                for bucket in np.unique(bk):  # bucket-sorted input: 1-2 per batch
                    if bucket != cur_b:
                        cur_b = bucket
                        path = b.value.paths.get(int(bucket))
                        cur = None if path is None else BloomState.single(m, k, np.load(path))
                    if cur is not None:  # else bucket never written: nothing seen
                        sel = bk == bucket
                        out[sel] = cur.probe_hashes(h1[sel], h2[sel])
                yield pd.Series(out)

        probed = (
            candidates.selectExpr("*", *HASH_SQL, bucket_sql(state.n_buckets))
            .repartition(F.col("bucket"))
            .sortWithinPartitions("bucket")
            .withColumn("maybe_seen", probe(F.col("_h1"), F.col("_h2"), F.col("bucket")))
        )
        drop = ("_h1", "_h2", "bucket")
    else:
        # iterator form: the state is unpickled once per task, not per
        # batch (guide §4.5)
        @F.pandas_udf("boolean")
        def probe(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
            st = b.value
            for h1, h2 in it:
                yield pd.Series(st.probe_hashes(_u64(h1), _u64(h2)))

        probed = _with_hashes(candidates).withColumn(
            "maybe_seen", probe(F.col("_h1"), F.col("_h2"))
        )
        drop = ("_h1", "_h2")
    return _split_and_verify(spark, probed, urlseen, one_batch, drop)


def bloom_delta(
    spark: SparkSession, accepted: DataFrame, state, collect_hosts: bool = False,
    one_batch: bool = False,
):
    """The accepted URLs' Bloom bits as a delta of ``state``'s own layout,
    folded in by ``state.merge(delta)``.  One grouped-map job: each touched
    bucket's task runs the bloom kernel on that bucket alone.  For a
    ``BloomState`` the delta holds the new bits, OR-merged on the driver.
    For a ``BloomBucketStore`` each task ORs the keys into a copy of the
    bucket's current blob and writes it as a NEW file under ``state.root``
    (old files stay — snapshot isolation); the delta holds those paths, so
    the driver only ever sees (bucket, n, path) rows, never blob bytes.

    ``collect_hosts=True`` piggybacks the distinct hosts of the accepted
    rows onto the same job (the crawl loop needs them for robots state —
    one Spark job instead of two per batch) and returns (delta, hosts).

    ``one_batch=True`` (``BloomState`` only): the accepted rows are one
    crawl batch's, so a batch of at most _SMALL_BATCH_CAP rows skips the
    groupBy+applyInPandas job (two stages, a shuffle and a Python-worker
    round per micro-batch — ~1.5 s of fixed cost): the JVM-computed (h1,
    h2, host) rows are collected and the SAME numpy add kernel runs on the
    driver.  Identical bits by construction (same hashes, same kernel);
    the collect is capped (~24 B/row → a 50k cap is ~1 MB).  The driver
    already received the touched blobs under the distributed path, so
    this strictly REDUCES driver traffic for small batches; larger
    batches keep the distributed path.
    """
    with_host = collect_hosts and "host" in accepted.columns
    cols = ["url", "host"] if with_host else ["url"]
    delta = state.empty_like()

    if one_batch and isinstance(state, BloomState):
        # a batch over the cap (link-farm pages) falls through to the
        # distributed path below; the capped collect read only the
        # (persisted) input, so the fallback recomputes nothing upstream
        pdf = _driver_hashes(accepted, cols[1:])
        if pdf is not None:
            delta.add_hashes(_u64(pdf["_h1"]), _u64(pdf["_h2"]))
            hosts = set(pdf["host"]) if with_host else set()
            return (delta, hosts) if collect_hosts else delta

    src = dst = None
    if isinstance(state, BloomBucketStore):
        # tasks start from each bucket's current file and write a new one
        src = state.broadcast(spark)
        dst = os.path.join(state.root, uuid.uuid4().hex[:12])
        os.makedirs(dst)
    m, k = state.m, state.k

    def per_bucket(key, pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(key[0])
        path = src.value.paths.get(b) if src is not None else None
        st = BloomState.single(m, k, None if path is None else np.load(path))
        st.add_hashes(_u64(pdf["_h1"]), _u64(pdf["_h2"]))
        if dst is None:
            blob, out = st.blobs[0].tobytes(), None
        else:
            blob, out = None, os.path.join(dst, f"bucket-{b:05d}-{uuid.uuid4().hex[:8]}.npy")
            np.save(out, st.blobs[0])
        return pd.DataFrame(
            {"bucket": [b], "n": [len(pdf)], "blob": [blob], "path": [out],
             "hosts": [sorted(set(pdf["host"])) if "host" in pdf.columns else []]}
        )

    # only what per_bucket reads goes to Python: the hashes, the bucket and
    # the host, never the url strings
    rows = (
        accepted.select(*cols)
        .selectExpr(*HASH_SQL, bucket_sql(state.n_buckets), *cols[1:])
        .groupBy("bucket")
        .applyInPandas(
            per_bucket,
            schema="bucket int, n long, blob binary, path string, hosts array<string>",
        )
        .collect()
    )
    hosts: set = set()
    for r in rows:
        if dst is not None:
            delta.paths[r["bucket"]] = r["path"]
            delta.n_items[r["bucket"]] = r["n"]
        else:
            delta.blobs[r["bucket"]] |= np.frombuffer(r["blob"], dtype=np.uint8)
            delta.n_items[r["bucket"]] += r["n"]
        hosts.update(r["hosts"] or [])
    return (delta, hosts) if collect_hosts else delta
