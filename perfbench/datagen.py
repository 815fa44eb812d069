"""Seeded synthetic tables for the sample-query probe of traced runs.

Same table names, columns and value shapes as the project's sf-scaled
test data (a TPC-H-like star, an events stream, short documents and
64-d embeddings), generated with numpy and written as one parquet file
per table, so the benchmark needs nothing outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data table column row key value query join merge sort filter group "
    "agg window stream batch scan hash spark fast slow big small line order "
    "part customer vector watermark"
).split()
N_NATIONS, N_REGIONS = 25, 5


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
        "users": max(10, int(15_000 * sf)),
    }


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(np.int64) + 1, n)).astype("datetime64[us]")


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    n = _sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(N_REGIONS, dtype=np.int32)),
        "r_name": [f"REGION_{i}" for i in range(N_REGIONS)],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array(np.arange(N_NATIONS, dtype=np.int32) % N_REGIONS),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, nc).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
                                    "HOUSEHOLD"], nc),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, ns).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
    })
    np_ = n["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, np_)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": np.round(rng.uniform(900, 2000, np_), 2),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-12-31"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], no),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["N", "A", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], ne),
        "value": np.round(rng.uniform(0, 200, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    lens = rng.integers(8, 100, nd)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    emb = rng.normal(0, 0.125, (nv, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
