"""Queries whose Spark side is their DuckDB twin's text: both engines
agree on that one text, and a built query keeps the tables it was built
over."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from check_oracles import duckdb_over, mismatch  # noqa: E402

from crawlspark.queries import ORACLE_SQL, SPARK_QUERIES  # noqa: E402

SF = "/root/testdata/sf0.001"
TWIN_TEXT = [n for n, fn in SPARK_QUERIES.items() if fn.__qualname__.startswith("sql_query.")]


def test_twin_text_queries_equal_duckdb(spark):
    assert len(TWIN_TEXT) == 21
    con = duckdb_over(SF)
    bad = {n: why for n in TWIN_TEXT
           if (why := mismatch(SPARK_QUERIES[n](spark, SF).toPandas(),
                               con.sql(ORACLE_SQL[n]).df()))}
    assert bad == {}


def test_twin_text_query_keeps_its_tables(spark):
    """The temp views are dropped once the query is analyzed: a query
    built over sf0.001 still reads sf0.001 after one over sf0.01."""
    query = SPARK_QUERIES["url_dedup_antijoin"]
    small = query(spark, SF)
    n_small = small.count()
    large = query(spark, "/root/testdata/sf0.01")
    assert large.count() > n_small
    assert small.count() == n_small
