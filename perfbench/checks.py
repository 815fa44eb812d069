"""Output checks, run outside the timed region.  Each returns a list of
failure messages; an empty list means the output is correct."""

from __future__ import annotations

import math


def _spans(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans or []]


def oracle_docs(ora) -> dict[str, list[tuple]]:
    return {d: _spans(v["spans"]) for d, v in ora.docs.items()}


def compare_docs(eng_docs: dict, ora_docs: dict) -> list[str]:
    bad = []
    if set(eng_docs) != set(ora_docs):
        bad.append(f"doc ids differ: {len(set(eng_docs) - set(ora_docs))} engine-only, "
                   f"{len(set(ora_docs) - set(eng_docs))} oracle-only")
    n_span = sum(1 for d in eng_docs if d in ora_docs and eng_docs[d] != ora_docs[d])
    if n_span:
        bad.append(f"{n_span} documents with different spans")
    return bad


def read_docs(catalog, manifest) -> dict:
    return {r["doc_id"]: _spans(r["spans"])
            for r in catalog.read("documents", manifest).select("doc_id", "spans").collect()}


def _norm(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def compare_frames(spark_pdf, oracle_pdf) -> list[str]:
    """Sorted-value equality of two pandas frames, columns matched by
    name; floats compared at 10 significant digits."""
    scols, dcols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if scols != dcols:
        return [f"columns {scols} vs {dcols}"]
    s_rows = sorted(tuple(_norm(v) for v in r) for r in spark_pdf[scols].itertuples(index=False))
    d_rows = sorted(tuple(_norm(v) for v in r) for r in oracle_pdf[dcols].itertuples(index=False))
    if len(s_rows) != len(d_rows):
        return [f"rows {len(s_rows)} vs {len(d_rows)}"]
    n_diff = sum(1 for a, b in zip(s_rows, d_rows) if a != b)
    return [f"{n_diff} differing rows"] if n_diff else []
