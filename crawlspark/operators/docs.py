"""Document path: clean spans → date/keyword/empty filters → DOCUMENTS rows.

Reference analog: ``write_to_local_data`` (covid_news_spider.py:2474-2567):
date parse + per-source COVID window (:2480-2526), media-credit and
footnote cleaning (:1616-1645, :1648-2014), keyword filter (:2543-2546),
empty-body drop (:2530-2531), filename → doc_id derivation (:2547-2557).

The Python-only work (span cleaning + messy-date parsing) runs inside the
fused fetch/parse stage (operators/pipeline.py); every filter after it is
pure built-in SQL so Catalyst can reorder/push them.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from crawlspark import rules
from crawlspark.functions.urls import domain_sql, host_sql, sql_lit


def doc_id_py(url: str) -> str:
    return hashlib.sha1(url.encode("utf-8", "surrogatepass")).hexdigest()


_DOMAIN = domain_sql(host_sql("url"))


def _by_domain(values: dict, default: str) -> str:
    """A CASE chain over the url's domain (small dims; reference :2495-2526)."""
    whens = " ".join(f"WHEN {_DOMAIN} = {sql_lit(d)} THEN {v}" for d, v in values.items())
    return f"CASE {whens} ELSE {default} END"


_TEXT_SPANS = f"filter(spans, s -> s.kind = {sql_lit('text')})"
_BODY_TEXT = f"concat_ws({sql_lit(chr(10))}, transform({_TEXT_SPANS}, s -> s.text))"
_KEYWORD_RX = sql_lit("|".join(rules.SEARCH_KEYWORDS).replace("-", r"\-"))
_LO, _HI = (
    _by_domain({d: sql_lit(w[i]) for d, w in rules.DATE_WINDOWS.items()},
               sql_lit(rules.DEFAULT_DATE_WINDOW[i]))
    for i in (0, 1)
)
# empty-body drop (F5), date window (F4), keyword relevance (F3)
_KEEP = (
    f"size({_TEXT_SPANS}) > 0 AND published_date IS NOT NULL"
    f" AND year(published_date) BETWEEN {_LO} AND {_HI}"
    f" AND lower(concat_ws({sql_lit(' ')}, coalesce(title, {sql_lit('')}), {_BODY_TEXT}))"
    f" RLIKE {_KEYWORD_RX}"
)
_SELECT = [
    f"sha1(encode(url, {sql_lit('UTF-8')})) AS doc_id",  # C6
    "url",
    "title",
    "published_date",
    _by_domain({d: sql_lit(c) for d, c in rules.SOURCE_CODES.items()},
               "CAST(NULL AS STRING)") + " AS source",  # F7
]


def finalize_documents(cleaned: DataFrame, batch_id: int) -> DataFrame:
    """The pure-SQL filter tail of the fused stage's doc records:
    empty-body drop (F5), date window (F4), keyword relevance (F3), source
    labeling (F7), doc_id derivation (C6), in-batch dedup.

    ``cleaned`` must carry (url, title, published_date, spans) with spans
    already cleaned and dates already parsed (pipeline.docs_from_pipe).
    """
    return (
        cleaned.filter(_KEEP)
        .selectExpr(*_SELECT, f"{batch_id} AS batch_id", "spans")
        .dropDuplicates(["doc_id"])
    )
