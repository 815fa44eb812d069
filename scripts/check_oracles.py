"""Local twin of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB at sf0.01, sort columns by name,
sort rows, and compare values exactly (with float-diff diagnostics)."""

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from crawlspark.queries import TABLES  # noqa: E402
from crawlspark.session import get_spark  # noqa: E402

import os

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)


def duckdb_over(sf_dir: str):
    """A DuckDB connection with a view per pack table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def mismatch(sdf, ddf) -> str | None:
    """Why the Spark and DuckDB results (pandas) differ, or None."""
    scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
    if scols != dcols:
        return f"columns {scols} vs {dcols}"
    s_rows = sorted(tuple(norm(v) for v in row) for row in sdf[scols].itertuples(index=False))
    d_rows = sorted(tuple(norm(v) for v in row) for row in ddf[dcols].itertuples(index=False))
    if len(s_rows) != len(d_rows):
        return f"rows {len(s_rows)} vs {len(d_rows)}"
    diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    if diffs:
        return f"{len(diffs)} differing rows; first: \n  S={diffs[0][0]}\n  D={diffs[0][1]}"
    return None


def main():
    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb_over(SF_DIR)
    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    names = sys.argv[1:] or sorted(qs)
    n_ok = n_bad = 0
    for name in names:
        if name not in oq:
            print(f"SKIP {name} (rows-only: no oracle; driver does rows-only check)")
            continue
        try:
            sdf = qs[name](spark, SF_DIR).toPandas()
            why = mismatch(sdf, con.sql(oq[name]).df())
            if why:
                print(f"FAIL {name}: {why}")
                n_bad += 1
            else:
                print(f"OK   {name}  ({len(sdf)} rows)")
                n_ok += 1
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:300]}")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} bad of {len(names)}")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
