"""Embedded IO (SearchEngine io_mode='auto'): when the index root is
driver-local, driver-scored queries read posting blocks / the term-df
mirror / the top-k point fetch through pyarrow — zero Spark jobs on the
warm path (the reference's embedded read session, SearchSession.cs:34-46,
as a size-gated physical strategy).  Results must be identical to the
Spark-IO path in every column, including timestamps."""

import uuid

import pytest

from resin_spark.executor import SearchEngine

QUERIES = [
    {"or": {"text": "banana"}},
    {"and": {"text": "term97 hotterm"}},
    {"and": {"text": "apple", "not": {"text": "apples"}}},
    {"and": {"text": "hotterm"}},
    {"or": {"text": "apple banana"}},
]


@pytest.fixture(scope="module")
def spark_engine(spark, index_root):
    return SearchEngine(spark, index_root, io_mode="spark")


def test_embedded_engages_on_local_root(engine):
    assert engine.io_mode == "auto"
    assert engine._reader.name == "pyarrow"
    assert engine._reader.dataset("postings") is not None
    assert engine._reader.dataset("docs") is not None


def test_embedded_full_column_parity(engine, spark_engine):
    """Every column — role/text/tool and the timestamp — must round-trip
    identically through the pyarrow point fetch and the Spark join."""
    for q in QUERIES:
        got = [tuple(r) for r in engine.search(q, k=8).collect()]
        want = [tuple(r) for r in spark_engine.search(q, k=8).collect()]
        assert got == want and got, q
        engine.clear_cache()
        spark_engine.clear_cache()


def test_embedded_warm_query_is_job_free(engine):
    """A warm driver-scored query under embedded IO launches NO Spark
    jobs: postings + docs read via pyarrow, the result is a pre-sorted
    k-row LocalRelation whose collect is driver-side."""
    engine.stats()
    engine._term_df_driver_map()
    engine.search(QUERIES[0], k=5).collect()  # warm every session cache
    engine.clear_cache()
    sc = engine.spark.sparkContext
    for q in QUERIES:
        g = uuid.uuid4().hex
        sc.setJobGroup(g, "probe")
        rows = engine.search(q, k=5).collect()
        engine.clear_cache()
        sc.setJobGroup(None, None)
        assert rows, q
        assert len(sc.statusTracker().getJobIdsForGroup(g)) == 0, q
    # empty results too: an emptied AND, an unmatched term, and a phrase
    # whose terms never stand adjacent all return a job-free empty frame
    # with the usual columns
    engine.phrase_search("banana zzznope", k=5).collect()  # warm phrase path
    engine.clear_cache()
    empties = [
        lambda: engine.search({"and": {"text": "uterm0 uterm1"}}, k=5),
        lambda: engine.search({"or": {"text": "zzznope"}}, k=5),
        lambda: engine.phrase_search("banana zzznope", k=5),
    ]
    for run in empties:
        g = uuid.uuid4().hex
        sc.setJobGroup(g, "probe")
        out = run()
        rows = out.collect()
        engine.clear_cache()
        sc.setJobGroup(None, None)
        assert rows == [] and out.columns[-1] == "score", out.columns
        assert len(sc.statusTracker().getJobIdsForGroup(g)) == 0, out.columns


def test_phrase_after_refresh_is_job_free(spark, tmp_path):
    """On a positional local root, the first phrase query after an
    append + refresh() reads the postings layout off the pyarrow
    dataset: neither refresh() nor the query builds a Spark reader, so
    neither launches a job."""
    from pyspark.sql import functions as F

    from resin_spark import api, build
    from resin_spark.fixtures import transcripts_df

    root = str(tmp_path / "pos_idx")
    t = transcripts_df(spark, 16, 4)
    cid = F.col("conv_id")
    build.build_index(spark, t.filter(cid < "conv00000012"), root,
                      positions=True)
    eng = SearchEngine(spark, root)
    phrase = "apple apples"
    assert eng.phrase_search(phrase, k=5).collect()  # non-vacuous
    api.append_docs(spark, t.filter(cid >= "conv00000012"), root)
    sc = spark.sparkContext
    g = uuid.uuid4().hex
    sc.setJobGroup(g, "probe")
    try:
        eng.refresh()
        rows = eng.phrase_search(phrase, k=5).collect()
    finally:
        sc.setJobGroup(None, None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(g)) == 0


def test_point_fetch_burst_keeps_fd_count_flat(engine):
    """Each point fetch opens the covering docs files and must close
    them itself: the process's open descriptors stay flat across a burst
    of a few hundred fetches."""
    import os

    names = ["doc_id", "conv_id", "turn_idx", "text"]
    ids = sorted(engine._reader.dataset("docs").to_table(
        columns=["doc_id"])["doc_id"].to_pylist())
    assert engine._docs_point_table(ids[:2], names) is not None

    def n_fds() -> int:
        return len(os.listdir("/proc/self/fd"))

    before = n_fds()
    for i in range(300):
        need = [ids[i % len(ids)], ids[(7 * i) % len(ids)]]
        assert engine._docs_point_table(need, names).num_rows >= 1
    assert n_fds() <= before + 2


def test_embedded_respects_snapshot_pin(spark, tmp_path):
    """A snapshot-pinned engine must read the OLD tree through pyarrow
    too (the dataset resolves at the pinned pointer version)."""
    from resin_spark import build
    from resin_spark.fixtures import transcripts_df

    root = str(tmp_path / "snap_idx")
    build.build_index(spark, transcripts_df(spark, 12, 4), root)
    eng0 = SearchEngine(spark, root)
    before = eng0.topk({"or": {"text": "banana"}}, k=5)
    build.compact(spark, root)
    snaps = build.list_snapshots(root)
    old = min(snaps)
    pinned = SearchEngine(spark, root, snapshot=old)
    assert pinned._reader.dataset("postings") is not None
    assert pinned.topk({"or": {"text": "banana"}}, k=5) == before
    # and the newest pointer agrees post-compaction as well
    assert SearchEngine(spark, root).topk(
        {"or": {"text": "banana"}}, k=5) == before


def test_spark_io_mode_forces_spark_reads(engine):
    e = SearchEngine(engine.spark, engine.root, io_mode="spark")
    assert e._reader.name == "spark"
    e.refresh()
    assert e._reader.name == "spark"


def test_term_lru_repeat_query_skips_postings_read(engine, monkeypatch):
    """A repeat query over warm terms must answer from the decoded-
    postings LRU: identical results with NO postings read at all; a
    public clear_cache() drops the LRU (benchmark honesty)."""
    q = {"or": {"text": "banana"}}
    engine.clear_cache()
    want = engine.topk(q, k=5)
    assert engine._term_lru  # warm after the first query

    def boom(*a, **k):
        raise AssertionError("postings store touched on a warm repeat")

    read = engine._reader.read

    def no_postings(artifact, *a, **k):
        if artifact == "postings":
            boom()
        return read(artifact, *a, **k)

    monkeypatch.setattr(engine, "postings", boom)
    monkeypatch.setattr(engine._reader, "read", no_postings)
    assert engine.topk(q, k=5) == want
    monkeypatch.undo()
    # a public clear_cache must drop the LRU; the next query re-reads
    engine.clear_cache()
    assert not engine._term_lru
    got = engine.topk(q, k=5)
    assert got == want


def test_term_lru_eviction_bound(engine):
    """The bounded LRU behind the term, stats and positional caches:
    evicts least-recently-used entries past its budget, drops a value
    bigger than the whole budget, stores nothing at a zero budget,
    caches a None (the stats LRU's bail marker) at size 0, and
    clear_cache() empties it."""
    import numpy as np

    from resin_spark.executor import _BoundedLRU

    engine.clear_cache()
    lru = engine._term_lru
    one = np.ones(1, dtype=np.int64)
    cap = engine._TERM_LRU_MAX_POSTINGS
    assert lru.budget == cap
    big = np.ones(cap // 2 + 1, dtype=np.int64)
    lru.put(("text", "a"), (big, big, big))
    lru.put(("text", "b"), (big, big, big))  # evicts 'a'
    assert ("text", "a") not in lru
    lru.put(("text", "c"), (one, one, one))
    assert lru.used <= cap
    over = np.ones(cap + 1, dtype=np.int64)
    lru.put(("text", "d"), (over, over, over))  # too big: ignored
    assert ("text", "d") not in lru
    engine.clear_cache()
    assert lru.used == 0 and not lru

    zero = _BoundedLRU(0)
    zero.put("k", (one,))
    assert "k" not in zero and len(zero) == 0 and zero.used == 0

    stats = _BoundedLRU(8)
    stats.put("bail", None)
    assert "bail" in stats and stats.get("bail") is None
    assert stats.used == 0
    stats.put("x", (np.ones(3, dtype=np.int64),))
    assert stats.used == 3
    stats.clear()
    assert stats.used == 0 and "bail" not in stats
