"""Document path: clean spans → date/keyword/empty filters → DOCUMENTS rows.

Reference analog: ``write_to_local_data`` (covid_news_spider.py:2474-2567):
date parse + per-source COVID window (:2480-2526), media-credit and
footnote cleaning (:1616-1645, :1648-2014), keyword filter (:2543-2546),
empty-body drop (:2530-2531), filename → doc_id derivation (:2547-2557).

The Python-only work (span cleaning + messy-date parsing) runs inside the
fused fetch/parse stage (operators/pipeline.py); every filter after it is
a pure built-in Column so Catalyst can reorder/push them.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawlspark import rules
from crawlspark.functions.urls import domain_expr, host_expr


def doc_id_py(url: str) -> str:
    return hashlib.sha1(url.encode("utf-8", "surrogatepass")).hexdigest()


# Batch-invariant Column trees for the filter tail, built once per
# SparkContext (same pattern and rationale as crawl._invariant_cols: the
# two CASE chains over DATE_WINDOWS/SOURCE_CODES plus the lambda
# higher-order functions cost ~100+ py4j roundtrips to construct, and
# finalize_documents runs EVERY politeness batch).
_FIN_CACHE: dict = {}


def _finalize_cols(spark) -> dict:
    key = spark.sparkContext.applicationId
    cached = _FIN_CACHE.get(key)
    if cached is not None:
        return cached
    _FIN_CACHE.clear()
    domain = domain_expr(host_expr(F.col("url")))
    # per-source date window as a CASE chain (small dim; reference :2495-2526)
    lo = F.lit(rules.DEFAULT_DATE_WINDOW[0])
    hi = F.lit(rules.DEFAULT_DATE_WINDOW[1])
    for d, (a, b) in rules.DATE_WINDOWS.items():
        lo = F.when(domain == d, F.lit(a)).otherwise(lo)
        hi = F.when(domain == d, F.lit(b)).otherwise(hi)

    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text"))
    body_text = F.concat_ws(
        "\n", F.transform(text_spans, lambda s: s["text"])
    )
    kw_rx = "|".join(rules.SEARCH_KEYWORDS).replace("-", r"\-")
    keyword_ok = F.lower(
        F.concat_ws(" ", F.coalesce(F.col("title"), F.lit("")), body_text)
    ).rlike(kw_rx)

    src = F.lit(None).cast("string")
    for d, code in rules.SOURCE_CODES.items():
        src = F.when(domain == d, F.lit(code)).otherwise(src)

    c = {
        "nonempty": F.size(text_spans) > 0,
        "date_notnull": F.col("published_date").isNotNull(),
        "date_ok": F.year("published_date").between(lo, hi),
        "keyword_ok": keyword_ok,
        "sel_pre": [
            F.sha1(F.encode(F.col("url"), "UTF-8")).alias("doc_id"),  # C6
            F.col("url"),
            F.col("title"),
            F.col("published_date"),
            src.alias("source"),  # F7
        ],
    }
    _FIN_CACHE[key] = c
    return c


def finalize_documents(cleaned: DataFrame, batch_id: int) -> DataFrame:
    """The pure-Column filter tail of the fused stage's doc records:
    empty-body drop (F5), date window (F4), keyword relevance (F3), source
    labeling (F7), doc_id derivation (C6), in-batch dedup.

    ``cleaned`` must carry (url, title, published_date, spans) with spans
    already cleaned and dates already parsed (pipeline.docs_from_pipe).
    """
    c = _finalize_cols(cleaned.sparkSession)
    return (
        cleaned.filter(c["nonempty"])  # F5 empty-body drop
        .filter(c["date_notnull"])
        .filter(c["date_ok"])  # F4 date window
        .filter(c["keyword_ok"])  # F3 keyword relevance
        .select(*c["sel_pre"], F.lit(batch_id).alias("batch_id"), "spans")
        .dropDuplicates(["doc_id"])
    )
