"""Training-data export sink: partitioned parquet in doc and span shapes,
deterministic sampling, partition pruning for downstream trainers."""

import os

import pytest
from pyspark.sql import functions as F

from crawlspark import synthetic
from crawlspark.crawl import CrawlConfig, run_crawl
from crawlspark.export import export_documents
from crawlspark.tables import SnapshotCatalog


@pytest.fixture(scope="module")
def crawl_wh(spark, tmp_path_factory):
    """One small crawl, read (never written) by the export tests below."""
    wh = str(tmp_path_factory.mktemp("wh"))
    run_crawl(spark, CrawlConfig(warehouse=wh, spec=synthetic.WebSpec(scale=0.05),
                                 max_batches=8, budget_override=15))
    return wh


def test_export_docs_and_spans(spark, tmp_path, crawl_wh):
    cat = SnapshotCatalog(spark, crawl_wh)
    docs = cat.read("documents")
    n_docs = docs.count()
    n_spans = docs.select(F.explode("spans")).count()
    assert n_docs > 0

    # docs shape: row-for-row, hive-partitioned by source
    out1 = str(tmp_path / "out_docs")
    r1 = export_documents(cat, out1, mode="docs")
    assert r1["rows"] == n_docs
    assert r1["partitions"] == sorted(
        x[0] for x in docs.select("source").distinct().collect())
    assert any(d.startswith("source=") for d in os.listdir(out1))
    # read-back equality on ids + span counts
    back = spark.read.parquet(out1)
    assert {x[0] for x in back.select("doc_id").collect()} == \
           {x[0] for x in docs.select("doc_id").collect()}

    # spans shape: exploded, tokenizer-ready, offsets preserved
    out2 = str(tmp_path / "out_spans")
    r2 = export_documents(cat, out2, mode="spans")
    assert r2["rows"] == n_spans
    sb = spark.read.parquet(out2)
    assert set(sb.columns) >= {"doc_id", "offset", "kind", "text", "media_ref"}
    one = docs.limit(1).collect()[0]
    got = sorted(
        (r["offset"], r["kind"]) for r in
        sb.filter(F.col("doc_id") == one["doc_id"]).collect())
    assert got == [(s["offset"], s["kind"]) for s in one["spans"]]

    # deterministic sample: strict subset, same result twice
    out3 = str(tmp_path / "out_s")
    r3 = export_documents(cat, out3, mode="docs", sample_pct=40)
    assert 0 < r3["rows"] < n_docs
    ids_a = {x[0] for x in spark.read.parquet(out3).select("doc_id").collect()}
    export_documents(cat, out3, mode="docs", sample_pct=40)
    ids_b = {x[0] for x in spark.read.parquet(out3).select("doc_id").collect()}
    assert ids_a == ids_b


def test_export_incremental_reads_only_delta_files(spark, tmp_path):
    """Incremental export: export after a first crawl phase, crawl more,
    export again with since_snap = the prior export's snapshot — the
    second call must read ONLY the delta files (count reported) and the
    two increments together must equal one full export, no duplicate
    doc_ids."""
    from crawlspark.export import export_incremental

    spec = synthetic.WebSpec(scale=0.05)
    wh = str(tmp_path / "wh")
    base = dict(warehouse=wh, spec=spec, budget_override=15)
    run_crawl(spark, CrawlConfig(max_batches=3, **base))
    cat = SnapshotCatalog(spark, wh)
    out = str(tmp_path / "inc")
    r1 = export_incremental(cat, out, since_snap=0)
    assert r1["rows"] > 0 and r1["files_read"] > 0
    n_after_phase1 = cat.read("documents").count()
    assert r1["rows"] == n_after_phase1

    run_crawl(spark, CrawlConfig(max_batches=8, **base), resume=True)
    m2 = cat.latest()
    all_files = m2["tables"]["documents"]
    delta_expected = [p for p in all_files if cat.snap_of(p) > r1["export_snap"]]
    r2 = export_incremental(cat, out, since_snap=r1["export_snap"])
    assert r2["files_read"] == len(delta_expected)
    # union of increments == full table, with no doc_id duplicated
    back = spark.read.parquet(out)
    full = cat.read("documents")
    assert back.count() == full.count() == r1["rows"] + r2["rows"]
    assert back.select("doc_id").distinct().count() == full.count()
    # a no-op increment reads nothing
    r3 = export_incremental(cat, out, since_snap=r2["export_snap"])
    assert r3 == {"rows": 0, "since_snap": r2["export_snap"],
                  "export_snap": r2["export_snap"], "mode": "docs",
                  "files_read": 0}


def _doc_row(doc_id, text, batch_id=1):
    import datetime as dt

    words = text.split()
    return (
        doc_id, f"https://www.cna.example/news/{doc_id}", f"T {doc_id}",
        dt.date(2021, 3, 1), "CNA", batch_id,
        [{"kind": "text", "text": " ".join(words[: len(words) // 2]),
          "media_ref": None, "offset": 0},
         {"kind": "text", "text": " ".join(words[len(words) // 2:]),
          "media_ref": None, "offset": 1}],
    )


_BASE_TEXT = ("health ministry reported new cases of the virus today as "
              "hospitals prepare additional capacity for patients while "
              "officials urged residents to remain calm")


def test_export_dedupe_keeps_cluster_roots(spark, tmp_path):
    """dedupe=True: planted near-dups collapse to their cluster root
    (min doc_id); unique docs all survive (span text is joined across
    spans before shingling)."""
    from crawlspark import schemas
    from crawlspark.export import export_documents

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    rows = [
        _doc_row("a1", _BASE_TEXT),                      # cluster root
        _doc_row("a2", _BASE_TEXT + " tonight"),         # near-dup of a1
        _doc_row("a3", _BASE_TEXT.replace("calm", "indoors")),  # near-dup
        _doc_row("b1", "completely different story about markets rates "
                       "growth inflation currency trade exports policy "
                       "bank investors bonds equity sectors outlook"),
    ]
    cat.commit(1, appends={"documents": spark.createDataFrame(rows, schemas.DOCUMENTS)})
    out = str(tmp_path / "out")
    r = export_documents(cat, out, mode="docs", dedupe=True)
    ids = {x[0] for x in spark.read.parquet(out).select("doc_id").collect()}
    assert ids == {"a1", "b1"}
    assert r["rows"] == 2


def test_export_incremental_single_pass_write(spark, tmp_path, monkeypatch):
    """The plain incremental export must not re-run the DAG with a
    count() action — the row count comes from an Observation on the
    write job.  The patch targets the CLASSIC DataFrame class (Spark 4's
    runtime class overrides count in its own __dict__, so patching the
    base pyspark.sql.dataframe.DataFrame would never intercept).  The
    dedupe path is excluded here: connected_components legitimately
    count()s in its fixpoint loop."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from crawlspark import schemas
    from crawlspark.export import export_incremental

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.commit(1, appends={"documents": spark.createDataFrame(
        [_doc_row("a1", _BASE_TEXT)], schemas.DOCUMENTS)})

    def _no_count(self):
        raise AssertionError("count() action during incremental export")

    monkeypatch.setattr(ClassicDF, "count", _no_count)
    r = export_incremental(cat, str(tmp_path / "inc"), since_snap=0,
                           mode="spans")
    monkeypatch.undo()
    assert r["rows"] == 2  # two text spans, counted on the write job


def test_export_incremental_dedupes_against_prior_state(spark, tmp_path):
    """Incremental dedupe: a later delta drops (a) near-dups of documents
    already exported in an earlier increment — via the cross-corpus band
    join — and (b) in-delta near-dups, keeping the root."""
    from crawlspark import schemas
    from crawlspark.export import export_incremental

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.commit(1, appends={"documents": spark.createDataFrame(
        [_doc_row("a1", _BASE_TEXT),
         _doc_row("b1", "completely different story about markets rates "
                        "growth inflation currency trade exports policy "
                        "bank investors bonds equity sectors outlook")],
        schemas.DOCUMENTS)})
    out = str(tmp_path / "inc")
    r1 = export_incremental(cat, out, since_snap=0, dedupe=True)
    assert r1["rows"] == 2

    cat.commit(2, appends={"documents": spark.createDataFrame(
        [_doc_row("c1", _BASE_TEXT + " again", 2),       # dups exported a1
         _doc_row("d1", "fresh topic entirely about weather storms rain "
                        "flooding rivers dams forecasts warnings wind "
                        "coastal towns evacuation shelters response", 2),
         _doc_row("d2", "fresh topic entirely about weather storms rain "
                        "flooding rivers dams forecasts warnings wind "
                        "coastal towns evacuation shelters planning", 2),  # dup of d1
        ], schemas.DOCUMENTS)})

    r2 = export_incremental(cat, out, since_snap=r1["export_snap"], dedupe=True)
    assert r2["rows"] == 1
    ids = {x[0] for x in spark.read.parquet(out).select("doc_id").collect()}
    assert ids == {"a1", "b1", "d1"}


def test_export_media_frames_from_crawl_spans(spark, tmp_path, crawl_wh):
    """Frame export over REAL crawl media spans: documents → media spans →
    payload table → sample_frames → partitioned shards.  Row count must
    equal the frame schedule over the table's video payloads, and every
    frame row must trace back to a media span's ref."""
    from crawlspark.export import export_media_frames
    from crawlspark.operators.multimodal import (
        media_payloads_from_documents,
        sample_frames,
    )

    cat = SnapshotCatalog(spark, crawl_wh)
    docs = cat.read("documents")
    expected = sample_frames(media_payloads_from_documents(docs)).count()
    assert expected > 0

    out = str(tmp_path / "frames")
    r = export_media_frames(cat, out)
    assert r["rows"] == expected
    back = spark.read.parquet(out)
    assert back.count() == expected
    assert set(back.columns) >= {"doc_id", "media_ref", "frame_idx", "ts_ms",
                                 "frame_hash", "frame", "source"}
    refs = {x[0] for x in docs.select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select("s.media_ref").distinct().collect()}
    assert {x[0] for x in back.select("media_ref").distinct().collect()} <= refs
    # frame schedule: per (doc, ref), frame_idx is 0..n-1 at every_ms steps
    one = back.filter(F.col("frame_idx") == 0).limit(1).collect()[0]
    series = sorted(
        (r["frame_idx"], r["ts_ms"]) for r in
        back.filter((F.col("doc_id") == one["doc_id"])
                    & (F.col("media_ref") == one["media_ref"])).collect())
    assert series == [(i, i * 1000) for i in range(len(series))]


def test_export_jsonl_tokenizer_ready(spark, tmp_path):
    """fmt='jsonl': gzip'd JSON-lines shards, hive-partitioned; docs mode
    carries a flattened top-level `text` field (text spans joined in
    offset order) so each line is directly tokenizer-ready; incremental
    appends compose across formats identically to parquet."""
    import glob
    import gzip
    import json

    from crawlspark import schemas
    from crawlspark.export import export_documents, export_incremental

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.commit(1, appends={"documents": spark.createDataFrame(
        [_doc_row("a1", _BASE_TEXT),
         _doc_row("b1", "different story about markets and trade")],
        schemas.DOCUMENTS)})

    out = str(tmp_path / "jl")
    r = export_documents(cat, out, mode="docs", fmt="jsonl")
    assert r["rows"] == 2 and r["fmt"] == "jsonl"
    assert r["partitions"] == ["CNA"]
    shards = glob.glob(out + "/source=*/*.json.gz")
    assert shards, os.listdir(out)
    lines = []
    for p in shards:
        with gzip.open(p, "rt") as f:
            lines += [json.loads(l) for l in f if l.strip()]
    by_id = {l["doc_id"]: l for l in lines}
    assert set(by_id) == {"a1", "b1"}
    # flattened text == spans joined in offset order
    assert by_id["a1"]["text"] == _BASE_TEXT
    assert [s["offset"] for s in by_id["a1"]["spans"]] == [0, 1]

    # spans mode: one line per span, no flatten column
    out2 = str(tmp_path / "jl_spans")
    r2 = export_documents(cat, out2, mode="spans", fmt="jsonl")
    assert r2["rows"] == 4
    back = spark.read.json(out2 + "/source=CNA")
    assert "text" in back.columns and "offset" in back.columns

    # incremental append in jsonl: delta lines land next to the old shards
    cat.commit(2, appends={"documents": spark.createDataFrame(
        [_doc_row("c1", "fresh weather report storms and rain", 2)],
        schemas.DOCUMENTS)})
    r3 = export_incremental(cat, out, since_snap=1, fmt="jsonl")
    assert r3["rows"] == 1
    all_lines = []
    for p in glob.glob(out + "/source=*/*.json.gz"):
        with gzip.open(p, "rt") as f:
            all_lines += [json.loads(l)["doc_id"] for l in f if l.strip()]
    assert sorted(all_lines) == ["a1", "b1", "c1"]


def test_export_warc_archive_with_index(spark, tmp_path):
    """export_warc publishes the corpus as .warc.gz shards + CDXJ index:
    duplicate payloads become revisit records (stored once), every
    document round-trips, and each index row seeks to exactly its own
    record — the replay-tool-ready archive shape."""
    import glob
    import gzip
    import os

    from crawlspark import schemas
    from crawlspark.export import export_warc
    from crawlspark.sources.warc import parse_records, read_cdxj, read_warc

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.commit(1, appends={"documents": spark.createDataFrame(
        [_doc_row("a1", _BASE_TEXT),
         _doc_row("b1", _BASE_TEXT),  # identical payload -> revisit
         _doc_row("c1", "different story about markets and trade")],
        schemas.DOCUMENTS)})

    out = str(tmp_path / "archive")
    r = export_warc(cat, out)
    assert r["records"] == 3 and r["revisit"] and r["cdxj"]

    back = read_warc(spark, out).collect()
    assert {x["target_uri"] for x in back} == {
        f"https://www.cna.example/news/{d}" for d in ("a1", "b1", "c1")}
    types = {x["target_uri"].rsplit("/", 1)[1]: x["warc_type"] for x in back}
    # keep-first by uri: a1 is the response, b1 the zero-payload revisit
    assert types == {"a1": "response", "b1": "revisit", "c1": "response"}
    assert [bytes(x["payload"]) for x in back
            if x["warc_type"] == "revisit"] == [b""]

    idx = read_cdxj(spark, out).collect()
    assert len(idx) == 3
    for x in idx:
        with open(os.path.join(out, x["filename"]), "rb") as f:
            f.seek(x["offset"])
            rec = next(parse_records(gzip.decompress(f.read(x["length"]))))
        assert rec["target_uri"] == x["url"]


def test_export_warc_wet_wat_sidecars(spark, tmp_path):
    """wet=True/wat=True publish Common Crawl's companion sidecars under
    <out>/wet and <out>/wat: one conversion + one metadata record per
    document, refers-to-linked, text extract as the WET payload."""
    from crawlspark import schemas
    from crawlspark.export import export_warc
    from crawlspark.sources.warc import read_warc, record_id_for

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    cat.commit(1, appends={"documents": spark.createDataFrame(
        [_doc_row("a1", _BASE_TEXT),
         _doc_row("c1", "different story about markets and trade")],
        schemas.DOCUMENTS)})

    out = str(tmp_path / "archive")
    r = export_warc(cat, out, wet=True, wat=True)
    assert r["records"] == 2
    assert r["wet"]["records"] == 2 and r["wat"]["records"] == 2

    wet = {x["target_uri"]: x for x in read_warc(spark, out + "/wet").collect()}
    wat = {x["target_uri"]: x for x in read_warc(spark, out + "/wat").collect()}
    for d, txt in (("a1", _BASE_TEXT),
                   ("c1", "different story about markets and trade")):
        uri = f"https://www.cna.example/news/{d}"
        assert wet[uri]["warc_type"] == "conversion"
        assert bytes(wet[uri]["payload"]).decode() == txt
        assert wet[uri]["refers_to"] == record_id_for(uri)
        assert wat[uri]["warc_type"] == "metadata"
        assert wat[uri]["content_type"] == "application/json"
