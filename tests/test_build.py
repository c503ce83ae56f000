"""Index build correctness: docs round trip, stats vs oracle, postings
codec round trip through the full Spark pipeline."""

from pyspark.sql import functions as F

from resin_spark import build as B
from resin_spark.reference import oracle_stats


def test_docs_round_trip(spark, engine, fixture_rows):
    """Per-turn text equality under stable turn ordering — the input_hint
    per-row invariant (FIXTURES.md §4.1)."""
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in engine.documents().select("conv_id", "turn_idx", "text").collect()
    }
    want = {(r["conv_id"], r["turn_idx"]): r["text"] for r in fixture_rows}
    assert got == want


def test_doc_ids_sorted_like_composite_key(spark, engine):
    """doc_id order == (conv_id, turn_idx) order (ids.py packing)."""
    rows = engine.documents().select("doc_id", "conv_id", "turn_idx").collect()
    by_id = sorted(rows, key=lambda r: r["doc_id"])
    by_key = sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))
    assert [r["doc_id"] for r in by_id] == [r["doc_id"] for r in by_key]
    assert len({r["doc_id"] for r in rows}) == len(rows)


def test_stats_match_oracle(engine, oracle):
    st = engine.stats()["text"]
    ost = oracle_stats(oracle, "text")
    assert st["n_docs"] == ost["n_docs"]
    assert st["total_tokens"] == ost["total_tokens"]
    assert st["avgdl"] == ost["avgdl"]  # exact: int/int in both


def test_postings_match_oracle(spark, engine, oracle):
    """Decode every block and compare (term -> {doc: tf}) with the oracle."""
    dec = B.decoded_postings(engine.postings().filter(F.col("field") == "text"))
    docs = {r["doc_id"]: (r["conv_id"], r["turn_idx"])
            for r in engine.documents().select("doc_id", "conv_id", "turn_idx").collect()}
    got: dict[str, dict] = {}
    for r in dec.collect():
        got.setdefault(r["term"], {})[docs[r["doc_id"]]] = r["tf"]
    want = oracle.postings["text"]
    assert got == want


def test_doclens_match_oracle(spark, engine, oracle):
    docs = {r["doc_id"]: (r["conv_id"], r["turn_idx"])
            for r in engine.documents().select("doc_id", "conv_id", "turn_idx").collect()}
    rows = B.read_doclens(spark, engine.root).filter(F.col("field") == "text").collect()
    got = {docs[r["doc_id"]]: r["dl"] for r in rows}
    assert got == oracle.doclens["text"]


def test_scan_paging_and_projection(engine):
    """S1 skip/take + P1 select."""
    n = engine.doc_count()
    page = engine.scan(skip=3, take=4, select=["conv_id", "turn_idx"]).collect()
    assert len(page) == 4
    assert set(page[0].asDict().keys()) == {"conv_id", "turn_idx"}
    assert engine.scan(skip=n - 2, take=10).count() == 2


def test_point_fetch(engine, fixture_rows):
    r0 = fixture_rows[0]
    got = engine.fetch(r0["conv_id"], r0["turn_idx"]).collect()
    assert len(got) == 1
    assert got[0]["text"] == r0["text"]


def test_lineage_written(spark, engine):
    lin = spark.read.parquet(B.p_lineage(engine.root))
    rows = lin.filter(F.col("step") == "segment").collect()
    assert any(r["status"] == "complete" for r in rows)
    met = spark.read.parquet(B.p_metrics(engine.root))
    metrics = {r["metric"] for r in met.collect()}
    assert {"n_docs", "docs_per_sec"} <= metrics
