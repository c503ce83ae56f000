"""API-surface coverage: save_as (X11), truncate (S12), vocabulary (I5),
multi-collection search (X9), flat programmatic parse (Q1), sources
(S4/S6)."""

import os

import pytest
from pyspark.sql import functions as F

from resin_spark import api, sources
from resin_spark.build import build_index
from resin_spark.executor import SearchEngine, multi_search
from resin_spark.query import parse_flat, parse_query, query_terms


def test_save_as_ctas(spark, engine, tmp_path):
    new_root = str(tmp_path / "saved")
    out = api.save_as(engine, {"or": {"text": "banana"}}, new_root, k=0)
    assert out["turns"] > 0
    sub = SearchEngine(spark, new_root)
    assert sub.doc_count() == out["turns"]
    # every saved doc contains the query term
    for r in sub.documents().select("text").collect():
        assert "banana" in r["text"].split()
    # and the new collection is itself searchable
    assert sub.topk({"or": {"text": "banana"}}, k=3)


def test_truncate(spark, transcripts, tmp_path):
    root = str(tmp_path / "trunc")
    build_index(spark, transcripts, root)
    api.truncate_index(spark, root)
    # docs remain, index gone
    assert spark.read.parquet(f"{root}/docs/segment=0").count() > 0
    with pytest.raises(Exception):
        spark.read.parquet(f"{root}/postings").collect()
    api.truncate(spark, root)
    with pytest.raises(Exception):
        spark.read.parquet(f"{root}/docs").collect()


def test_vocabulary(engine, oracle):
    vocab = {r["term"]: r["df"] for r in engine.vocabulary("text").collect()}
    want = {t: len(p) for t, p in oracle.postings["text"].items()}
    assert vocab == want


def test_multi_collection_search(spark, transcripts, engine, tmp_path):
    root_b = str(tmp_path / "coll_b")
    # second collection: the subset of turns containing 'banana'
    sub = transcripts.filter(F.col("text").contains("banana"))
    build_index(spark, sub, root_b)
    eng_b = SearchEngine(spark, root_b)
    out = multi_search({"a": engine, "b": eng_b},
                       {"or": {"text": "banana"}}, k=20)
    # plan gate: every broadcast side is the k-row per-collection top-k
    # (TakeOrderedAndProject under the exchange), never the full ranked
    # frame — a hot-term query must not broadcast millions of rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") >= 2
    hits = out.collect()
    assert hits
    colls = {r["collection"] for r in hits}
    assert colls == {"a", "b"}
    # global ordering by score desc
    scores = [r["score"] for r in hits]
    assert scores == sorted(scores, reverse=True)
    # byte-identical to the semantic definition: per-collection search
    # results merged and globally re-ranked in Python
    want = []
    for name, eng in (("a", engine), ("b", eng_b)):
        for (cid, tix), sc in eng.topk({"or": {"text": "banana"}}, k=20):
            want.append((-sc, name, cid, tix))
    want = [(n, c, t, -ns) for ns, n, c, t in sorted(want)[:20]]
    got = [(r["collection"], r["conv_id"], r["turn_idx"], r["score"])
           for r in hits]
    assert got == want

    # skip pages the GLOBAL order (page 2 == ranks skip..skip+k of the
    # full merged rank), select projects extra stored doc columns
    page = multi_search({"a": engine, "b": eng_b},
                        {"or": {"text": "banana"}}, k=5, skip=3,
                        select=["role"]).collect()
    assert [(r["collection"], r["conv_id"], r["turn_idx"], r["score"])
            for r in page] == want[3:8]
    assert all(isinstance(r["role"], str) for r in page)


def test_parse_flat_multi_field():
    q = parse_flat("search", ["text", "role"], op="and", collection="c")
    terms = query_terms(q)
    assert {(t.field, t.token, t.op) for t in terms} == {
        ("text", "search", "and"),
        ("role", "search", "and"),
    }
    # chained structure mirrors the reference head parser
    assert q.and_q is not None and q.and_q.terms[0].field == "role"


def test_parse_flat_executes(engine, oracle):
    from resin_spark.reference import oracle_search

    q = parse_flat("search", ["text"], op="or")
    got = engine.topk(q, k=5)
    want = oracle_search(oracle, {"or": {"text": "search"}}, k=5)
    assert [g[0] for g in got] == [w[0] for w in want]


def test_engine_diagnostics(spark, engine):
    # diagnostics writes no engine state (a concurrent query must not
    # see a changed fetch route)
    keys = set(engine.__dict__)
    d = engine.diagnostics({"or": {"text": "banana"}})
    assert set(engine.__dict__) == keys
    assert d["root"] == engine.root
    assert d["fields"]["text"]["n_terms"] > 50
    assert d["fields"]["text"]["n_postings"] >= d["fields"]["text"]["n_terms"]
    # embedded IO returns the k-row result as a LocalTableScan; the
    # spark-io plan must show the real file scan
    assert "LocalTableScan" in d["plan"] or "FileScan" in d["plan"]
    from resin_spark.executor import SearchEngine

    d2 = SearchEngine(engine.spark, engine.root,
                      io_mode="spark").diagnostics({"or": {"text": "banana"}})
    assert "FileScan" in d2["plan"]
    assert "text" in d["stats"] and d["stats"]["text"]["n_docs"] > 0


WET_SAMPLE = (
    "WARC/1.0\r\n"
    "WARC-Type: warcinfo\r\n"
    "Content-Length: 11\r\n"
    "\r\n"
    "software: x\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: conversion\r\n"
    "WARC-Target-URI: http://example.com/a\r\n"
    "Content-Length: 26\r\n"
    "\r\n"
    "Hello world.\r\n"
    "\r\n"
    "Second line.\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Target-URI: http://example.com/b\r\n"
    "Content-Length: 18\r\n"
    "\r\n"
    "Beta content here.\r\n"
)


def test_sources_wet_records(spark, tmp_path):
    """Multi-line WET records (S6): one doc per record, url from the
    header, body with empty lines dropped, warcinfo record skipped —
    plain and gzipped."""
    import gzip

    p = tmp_path / "sample.warc.wet"
    p.write_text(WET_SAMPLE)
    gz = tmp_path / "sample.warc.wet.gz"
    gz.write_bytes(gzip.compress(WET_SAMPLE.encode()))

    for path in (p, gz):
        rows = {r["url"]: r["text"]
                for r in sources.read_wet_docs(spark, str(path)).collect()}
        assert rows == {
            "http://example.com/a": "Hello world.\nSecond line.",
            "http://example.com/b": "Beta content here.",
        }, path

    # adapter: WET docs -> transcript shape -> indexable
    t = sources.transcripts_from_docs(
        sources.read_wet_docs(spark, str(p)), id_col="url")
    assert t.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t.count() == 2


def test_sources_wat_records(spark, tmp_path):
    """WAT metadata records (S5): response records only, title +
    description-meta extraction, url split."""
    import json as _json

    rec_resp = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://example.com/a%20b?x=1",
            },
            "Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {
                "Head": {
                    "Title": "A Title",
                    "Metas": [{"name": "keywords", "content": "k"},
                              {"name": "Description", "content": "the desc"}],
                },
            }}},
        }
    }
    rec_req = {"Envelope": {"WARC-Header-Metadata": {
        "WARC-Type": "request",
        "WARC-Target-URI": "https://example.com/skip"}}}
    p = tmp_path / "sample.warc.wat"
    p.write_text("WARC/1.0\nWARC-Type: metadata\n\n"
                 + _json.dumps(rec_resp) + "\n"
                 + _json.dumps(rec_req) + "\n")
    rows = sources.read_wat_docs(spark, str(p), filename="sample").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["title"] == "A Title" and r["description"] == "the desc"
    assert r["scheme"] == "https" and r["host"] == "example.com"
    assert r["path"] == "/a b" and r["query"] == "x=1"
    assert r["filename"] == "sample"


def test_sources_json_roundtrip(spark, tmp_path):
    import gzip
    import json

    p = tmp_path / "docs.json.gz"
    with gzip.open(p, "wt") as f:
        for i in range(10):
            f.write(json.dumps({"title": f"t{i}", "text": f"body {i}",
                                "junk": i}) + "\n")
    df = sources.read_json_docs(spark, str(p), ["title", "text"],
                                id_field="title", skip=2, take=5)
    rows = df.collect()
    assert len(rows) == 5
    assert set(rows[0].asDict()) == {"title", "text"}

    t = sources.transcripts_from_docs(
        spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    )
    assert t.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_append_docs_and_write_results(spark, tmp_path):
    """S8 write-session analog + S9 JSON result sink: append a batch as
    a new segment, query parity with a full rebuild, sink round-trip."""
    import json

    from resin_spark import build as B
    from resin_spark.api import append_docs, write_results
    from resin_spark.executor import SearchEngine
    from resin_spark.fixtures import transcripts_df
    from pyspark.sql import functions as F

    t = transcripts_df(spark, n_convs=20, max_turns=4)
    w1 = t.filter(F.col("conv_id") < "conv00000010")
    w2 = t.filter(F.col("conv_id") >= "conv00000010")

    root = str(tmp_path / "append_idx")
    B.build_index(spark, w1, root)
    out = append_docs(spark, w2, root)
    assert out["segment"] >= 1

    eng = SearchEngine(spark, root)
    assert eng.documents().count() == t.count()

    batch_root = str(tmp_path / "full_idx")
    B.build_index(spark, t, batch_root)
    beng = SearchEngine(spark, batch_root)
    for query in ({"or": {"text": "banana"}},
                  {"and": {"text": "apple", "not": {"text": "apples"}}}):
        got = eng.topk(query, k=5)
        want = beng.topk(query, k=5)
        assert [key for key, _ in got] == [key for key, _ in want]
        assert got == pytest.approx(want)

    # S9: results as JSON, one file, round-trips through spark.read.json
    res = eng.search({"or": {"text": "banana"}}, k=5)
    path = str(tmp_path / "results_json")
    write_results(res, path, fmt="json", single_file=True)
    back = spark.read.json(path)
    assert back.count() == res.count()
    assert set(res.columns) <= set(back.columns)
    with pytest.raises(ValueError, match="unsupported result format"):
        write_results(res, path, fmt="csvish")


def test_append_docs_explicit_segment_is_idempotent(spark, tmp_path):
    """Retry contract: an explicit segment id re-append is a no-op once
    its lineage receipt is complete (streaming replay semantics), and
    auto-allocated appends live in their own id namespace (no collision
    with streaming's segment_base range)."""
    from resin_spark import build as B
    from resin_spark.api import APPEND_SEGMENT_BASE, append_docs
    from resin_spark.executor import SearchEngine
    from resin_spark.fixtures import transcripts_df
    from pyspark.sql import functions as F

    import glob
    import shutil

    t = transcripts_df(spark, n_convs=10, max_turns=3)
    w1 = t.filter(F.col("conv_id") < "conv00000005")
    w2 = t.filter(F.col("conv_id") >= "conv00000005")
    root = str(tmp_path / "idem_idx")
    B.build_index(spark, w1, root)

    # leftovers of an earlier attempt that died before its receipt: a
    # hidden half-written file (in segment 0 too) and a published part
    # file holding segment 0's docs again
    for art in ("docs", "postings"):
        for seg in (0, APPEND_SEGMENT_BASE):
            d = f"{root}/{art}/segment={seg}"
            os.makedirs(d, exist_ok=True)
            with open(f"{d}/.part-dead.parquet", "wb") as f:
                f.write(b"PAR1 half-written")
    stale = glob.glob(f"{root}/docs/segment=0/part-*.parquet")[0]
    shutil.copy(stale, f"{root}/docs/segment={APPEND_SEGMENT_BASE}/"
                "part-stale.parquet")
    shutil.rmtree(f"{root}/postings/segment={APPEND_SEGMENT_BASE}")
    os.makedirs(f"{root}/postings/segment={APPEND_SEGMENT_BASE}")
    # hidden files are skipped by both readers
    n1 = w1.count()
    assert spark.read.parquet(f"{root}/postings").count() > 0
    assert SearchEngine(spark, root).topk({"or": {"text": "apple"}}, k=3)

    first = append_docs(spark, w2, root, segment=APPEND_SEGMENT_BASE)
    assert first == {"segment": APPEND_SEGMENT_BASE}
    n = SearchEngine(spark, root).documents().count()
    assert n == n1 + w2.count() == t.count()
    seg_dir = f"{root}/docs/segment={APPEND_SEGMENT_BASE}"
    assert not os.path.exists(f"{seg_dir}/part-stale.parquet")
    assert not os.path.exists(f"{seg_dir}/.part-dead.parquet")
    retry = append_docs(spark, w2, root, segment=APPEND_SEGMENT_BASE)
    assert retry["skipped"] is True
    assert SearchEngine(spark, root).documents().count() == n == t.count()

    auto = append_docs(spark, w2.limit(3), root)
    assert auto["segment"] == APPEND_SEGMENT_BASE + 1
