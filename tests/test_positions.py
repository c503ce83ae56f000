"""Positional postings (build_index(..., positions=True)).

The reference keeps no positional data — SearchSession scores phrases as
term bags (/root/reference/src/Sir.Search/Session/SearchSession.cs) — so
positions are a beyond-reference scale feature: phrase adjacency verified
from the index alone, never from the docs table.  The invariants:

* codec round-trip: decode(encode(positions)) per (field, term, doc) is
  exactly the posexplode token stream (build-path parity) and survives
  arbitrary position lists (hypothesis);
* phrase parity: positional phrase_search is rank+score-identical to the
  text-verify twin and to the oracle, under every physical strategy;
* the over-cap distributed verify plan contains NO docs-table scan;
* compaction and mixed-layout appends keep phrase results correct.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from strategies import spark_io

from resin_spark import api
from resin_spark import build as B
from resin_spark.executor import SearchEngine
from resin_spark.fixtures import TRANSCRIPT_SCHEMA
from resin_spark.reference import oracle_search
from resin_spark.tokenizer import tokenize_py


@pytest.fixture(scope="module")
def pos_root(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("posidx") / "collection")
    B.build_index(spark, transcripts, root, positions=True)
    return root


@pytest.fixture(scope="module")
def pos_engine(spark, pos_root):
    return SearchEngine(spark, pos_root)


def _phrase_expected(fixture_rows, oracle, phrase, field="text", k=10,
                     skip=0):
    toks = tokenize_py(phrase)
    needle = " " + " ".join(toks) + " "
    match = {
        (r["conv_id"], r["turn_idx"])
        for r in fixture_rows
        if needle in " " + " ".join(tokenize_py(r.get(field) or "")) + " "
    }
    and_hits = oracle_search(oracle, {"and": {field: phrase}}, k=0)
    kept = [h for h in and_hits if h[0] in match]
    return kept[skip:] if k == 0 else kept[skip:skip + k]


def _collect(df):
    return [((r["conv_id"], r["turn_idx"]), r["score"])
            for r in df.collect()]


def _assert_hits(got, want, tag):
    assert [h[0] for h in got] == [h[0] for h in want], tag
    for (k1, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=0, abs_tol=1e-9), (tag, k1)


# --------------------------------------------------------------- codec
def test_positions_roundtrip_vs_posexplode(spark, pos_root):
    """Every (field, term, doc) position list decoded from the blocks
    equals the posexplode of the tokenized docs table — the encoder's
    gap layout is exact, not approximate."""
    from resin_spark.postings import (decode_counts, decode_doc_ids,
                                      decode_positions)

    docs = B.read_docs(spark, pos_root)
    ref: dict = {}
    for r in B.tokenized(docs, B.DEFAULT_FIELDS, positions=True).collect():
        ref.setdefault((r["field"], r["term"], r["doc_id"]), []).append(
            r["pos"])
    got: dict = {}
    for r in B.read_postings(spark, pos_root).collect():
        d = decode_doc_ids(bytes(r["doc_ids_bin"]))
        tf = decode_counts(bytes(r["tfs_bin"]))
        pos = decode_positions(bytes(r["positions_bin"]), tf)
        off = np.concatenate(([0], np.cumsum(tf)))
        for i, doc in enumerate(d):
            got[(r["field"], r["term"], int(doc))] = (
                pos[off[i]:off[i + 1]].tolist())
    assert set(ref) == set(got)
    for key, plist in ref.items():
        assert sorted(plist) == got[key], key


def test_positions_codec_property():
    """Hypothesis: arbitrary per-doc sorted position lists survive the
    encoder's gap layout (absolute at run start, deltas after)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from resin_spark.postings import (decode_counts, decode_positions,
                                      varint_encode_segmented)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(
        st.lists(st.integers(min_value=0, max_value=1 << 40),
                 min_size=1, max_size=20),
        min_size=1, max_size=10))
    def run(doc_pos_lists):
        runs = [np.sort(np.array(p, dtype=np.int64))
                for p in doc_pos_lists]
        tfs = np.array([len(p) for p in runs], dtype=np.int64)
        flat = np.concatenate(runs)
        gaps = np.empty_like(flat)
        starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        gaps[0] = flat[0]
        np.subtract(flat[1:], flat[:-1], out=gaps[1:])
        gaps[starts] = flat[starts]
        buf = varint_encode_segmented(
            gaps.astype(np.uint64),
            np.array([0, len(flat)], dtype=np.int64))[0]
        out = decode_positions(buf, tfs)
        assert out.tolist() == flat.tolist()
        assert decode_counts(b"") .tolist() == []

    run()


# ------------------------------------------------------- phrase parity
@pytest.fixture(params=["driver", "driver_sparkio", "distributed"])
def pos_engine_s(request, pos_engine):
    """Positional engine under the driver-scored (embedded pyarrow),
    driver-through-Spark-collect, and distributed-verify strategies.
    'driver_sparkio' empties the positional LRU and gives it a zero
    budget, so the Spark read actually runs even when the shared engine
    is warm from the driver-strategy pass."""
    if request.param == "driver_sparkio":
        pos_engine._pos_lru.clear()
        pos_engine._pos_lru.budget = 0
        try:
            with spark_io(pos_engine):
                yield pos_engine
        finally:
            pos_engine._pos_lru.budget = pos_engine._POS_LRU_MAX_OCC
    elif request.param == "distributed":
        pos_engine._DRIVER_SCORE_MAX_POSTINGS = -1
        try:
            yield pos_engine
        finally:
            del pos_engine.__dict__["_DRIVER_SCORE_MAX_POSTINGS"]
    else:
        yield pos_engine


def test_phrase_positional_matches_oracle_all_strategies(
        pos_engine_s, fixture_rows, oracle):
    for phrase in ("banana cantalope", "apple banana", "the a",
                   "term97 hotterm", "banana zzznope"):
        want = _phrase_expected(fixture_rows, oracle, phrase)
        got = _collect(pos_engine_s.phrase_search(
            phrase, k=10, select=["conv_id", "turn_idx"]))
        _assert_hits(got, want, phrase)


def test_phrase_positional_paging(pos_engine, fixture_rows, oracle):
    want = _phrase_expected(fixture_rows, oracle, "banana cantalope",
                            k=3, skip=2)
    got = _collect(pos_engine.phrase_search(
        "banana cantalope", k=3, skip=2, select=["conv_id", "turn_idx"]))
    _assert_hits(got, want, "paged")


def test_positional_index_other_queries_unchanged(
        spark, pos_engine, engine):
    """The positional column is invisible to every non-phrase path:
    BM25 top-k on the positional index is rank+score-identical to the
    positionless twin built from the same transcripts."""
    for q in ({"and": {"text": "banana"}},
              {"and": {"text": "banana", "or": {"text": "apple"}}}):
        a = pos_engine.topk(q, k=10)
        b = engine.topk(q, k=10)
        assert [h[0] for h in a] == [h[0] for h in b]
        for (_, s1), (_, s2) in zip(a, b):
            assert math.isclose(s1, s2, rel_tol=0, abs_tol=1e-12)


# ------------------------------------------------- tricky token layouts
_TRICKY = [
    # repeated phrase token: "go stop go" must not match "go go stop"
    ("c0", 0, "user", "go stop go end", None),
    ("c0", 1, "user", "go go stop end", None),
    # self-overlapping runs: "a a a" matches "a a" twice, "a a a" once
    ("c1", 0, "user", "a a a", None),
    ("c1", 1, "user", "b a a b", None),
    ("c1", 2, "user", "b a b a b", None),          # non-adjacent only
    # normalization: punctuation splits, case folds, unicode survives
    ("c2", 0, "user", "Ferriman–Gallwey score chart", None),
    ("c2", 1, "user", "ferriman gallwey-score", None),
    ("c2", 2, "user", "naïve café déjà vu", None),
    # phrase terms split across different turns must NOT match
    ("c3", 0, "user", "alpha beta", None),
    ("c3", 1, "user", "gamma delta", None),
    ("c3", 2, "user", "beta gamma", None),
]


@pytest.fixture(scope="module")
def tricky(spark, tmp_path_factory):
    import datetime

    rows = [(c, t, r, x, tl,
             datetime.datetime(2024, 1, 1, 0, 0, i))
            for i, (c, t, r, x, tl) in enumerate(_TRICKY)]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    pos_root = str(tmp_path_factory.mktemp("tricky") / "pos")
    txt_root = str(tmp_path_factory.mktemp("tricky") / "txt")
    B.build_index(spark, df, pos_root, positions=True)
    B.build_index(spark, df, txt_root, positions=False)
    return SearchEngine(spark, pos_root), SearchEngine(spark, txt_root)


def test_phrase_tricky_positional_equals_text_verify(tricky):
    pos_e, txt_e = tricky
    phrases = ["go stop go", "go go", "stop go end", "a a", "a a a",
               "a b a", "ferriman gallwey score", "ferriman gallwey",
               "gallwey score", "naïve café", "café déjà vu",
               "beta gamma", "gamma beta", "alpha beta gamma"]
    for ph in phrases:
        a = _collect(pos_e.phrase_search(
            ph, k=0, select=["conv_id", "turn_idx"]))
        b = _collect(txt_e.phrase_search(
            ph, k=0, select=["conv_id", "turn_idx"]))
        _assert_hits(a, b, ph)
    # spot semantics: the repeated-token phrase matches only the doc
    # with that exact order, and cross-turn adjacency never happens
    keys = {h[0] for h in _collect(pos_e.phrase_search(
        "go stop go", k=0, select=["conv_id", "turn_idx"]))}
    assert keys == {("c0", 0)}
    assert _collect(pos_e.phrase_search(
        "beta gamma", k=0, select=["conv_id", "turn_idx"]))
    assert not _collect(pos_e.phrase_search(
        "alpha beta gamma", k=0, select=["conv_id", "turn_idx"]))


def test_phrase_tricky_distributed_strategy(tricky):
    pos_e, txt_e = tricky
    pos_e._DRIVER_SCORE_MAX_POSTINGS = -1
    try:
        for ph in ("go stop go", "a a a", "a b a", "ferriman gallwey"):
            a = _collect(pos_e.phrase_search(
                ph, k=0, select=["conv_id", "turn_idx"]))
            b = _collect(txt_e.phrase_search(
                ph, k=0, select=["conv_id", "turn_idx"]))
            _assert_hits(a, b, ph)
    finally:
        del pos_e.__dict__["_DRIVER_SCORE_MAX_POSTINGS"]


# ------------------------------------------------------------ plan gate
def test_phrase_distributed_plan_no_docs_scan(pos_engine):
    """The over-cap positional verify must resolve adjacency from the
    postings alone: its plan contains postings scans with the term
    filter pushed, and NO docs-table scan."""
    match = pos_engine._phrase_match_docs_positional(
        "text", ["banana", "cantalope"])
    plan = match._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans, "expected a postings scan"
    for ln in scans:
        assert "/postings" in ln and "/docs" not in ln
    assert "banana" in plan and "cantalope" in plan  # pushed term filter


# -------------------------------------------- appends, compact, fallback
def test_positional_append_and_compact(spark, transcripts,
                                       tmp_path_factory, fixture_rows,
                                       oracle):
    root = str(tmp_path_factory.mktemp("poscompact") / "collection")
    half1 = transcripts.filter(F.col("conv_id") < "conv00000020")
    half2 = transcripts.filter(F.col("conv_id") >= "conv00000020")
    B.build_index(spark, half1, root, positions=True)
    # append_docs auto-detects the positional layout
    api.append_docs(spark, half2, root)
    eng = SearchEngine(spark, root)
    assert "positions_bin" in eng.postings().columns
    want = _phrase_expected(fixture_rows, oracle, "banana cantalope")
    _assert_hits(_collect(eng.phrase_search(
        "banana cantalope", k=10, select=["conv_id", "turn_idx"])),
        want, "appended")
    B.compact(spark, root)
    eng2 = SearchEngine(spark, root)
    assert "positions_bin" in eng2.postings().columns
    assert not eng2.postings().filter(
        F.col("positions_bin").isNull()).count()
    _assert_hits(_collect(eng2.phrase_search(
        "banana cantalope", k=10, select=["conv_id", "turn_idx"])),
        want, "compacted")


def test_driver_pos_cap_falls_to_distributed(pos_engine, fixture_rows,
                                             oracle):
    """A positional collect over the driver volume cap must hand the
    query to the distributed positional verify — same results."""
    pos_engine._PHRASE_POS_MAX_POSITIONS = 0
    try:
        for phrase in ("banana cantalope", "term97 hotterm"):
            want = _phrase_expected(fixture_rows, oracle, phrase)
            got = _collect(pos_engine.phrase_search(
                phrase, k=10, select=["conv_id", "turn_idx"]))
            _assert_hits(got, want, phrase)
    finally:
        del pos_engine.__dict__["_PHRASE_POS_MAX_POSITIONS"]


def test_text_verify_large_candidates_ranked_join(engine, fixture_rows,
                                                  oracle):
    """Positionless index, candidate set over the point cap: the text
    verify must route through the distributed ranked join (no driver
    literal of the whole hit list) and stay oracle-exact."""
    engine._PHRASE_POINT_MAX_CANDIDATES = 0
    try:
        for phrase in ("banana cantalope", "the a"):
            want = _phrase_expected(fixture_rows, oracle, phrase)
            got = _collect(engine.phrase_search(
                phrase, k=10, select=["conv_id", "turn_idx"]))
            _assert_hits(got, want, phrase)
    finally:
        del engine.__dict__["_PHRASE_POINT_MAX_CANDIDATES"]


def test_http_write_positions_opt_in(spark, tmp_path):
    """POST /write?positions=true bootstraps a NEW collection in the
    positional layout; later writes without the flag keep it (append
    auto-detect), and &phrase=true answers through the positional
    verify."""
    import json
    import urllib.request

    from resin_spark.http import ResinHttpServer

    root_dir = str(tmp_path / "httppos")
    docs = [{"conv_id": "cp0", "turn_idx": 0, "role": "user",
             "text": "zebra quokka lemur", "tool": "",
             "ts": "2025-06-01 10:00:00"},
            {"conv_id": "cp1", "turn_idx": 0, "role": "user",
             "text": "quokka zebra lemur", "tool": "",
             "ts": "2025-06-01 11:00:00"}]
    with ResinHttpServer(spark, root_dir) as srv:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/write?collection=cp"
            "&positions=true",
            data=json.dumps(docs).encode(), method="POST",
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 201
        post = B.read_postings(spark, f"{root_dir}/cp")
        assert "positions_bin" in post.columns
        req2 = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/write?collection=cp",
            data=json.dumps([dict(docs[0], conv_id="cp2")]).encode(),
            method="POST", headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req2) as resp:
            assert resp.status == 201
        post = B.read_postings(spark, f"{root_dir}/cp")
        assert not post.filter(F.col("positions_bin").isNull()).count()
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/query?collection=cp"
                "&q=zebra%20quokka&field=text&phrase=true&take=5") as resp:
            rows = json.loads(resp.read())
        assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [("cp0", 0),
                                                                 ("cp2", 0)]


def test_cli_build_positions_flag(spark, transcripts, tmp_path, capsys):
    from resin_spark import cli

    src = str(tmp_path / "cliposin")
    transcripts.limit(30).write.mode("overwrite").parquet(src)
    root = str(tmp_path / "cliposidx")
    assert cli.main(["build", "--input", src, "--root", root,
                     "--positions"]) == 0
    capsys.readouterr()
    assert "positions_bin" in B.read_postings(spark, root).columns
    assert cli.main(["search", "--root", root, "--q", "banana cantalope",
                     "--phrase", "--k", "3"]) == 0
    capsys.readouterr()


def test_mixed_layout_segment_falls_back(spark, transcripts,
                                         tmp_path_factory, fixture_rows,
                                         oracle):
    """A hand-built non-positional segment inside a positional
    collection must never produce wrong phrase results: whichever
    physical path runs (positional with null-detection fallback, or the
    text verify), the result still matches the oracle."""
    root = str(tmp_path_factory.mktemp("mixed") / "collection")
    half1 = transcripts.filter(F.col("conv_id") < "conv00000020")
    half2 = transcripts.filter(F.col("conv_id") >= "conv00000020")
    B.build_index(spark, half1, root, positions=True)
    conv_dim = B.extend_conv_dim(spark, half2, root)
    seg_df = half2.withColumn("segment", F.lit(7))
    B._build_segment(spark, seg_df, conv_dim, root, B.DEFAULT_FIELDS, 7,
                     positions=False)
    eng = SearchEngine(spark, root)
    want = _phrase_expected(fixture_rows, oracle, "banana cantalope")
    _assert_hits(_collect(eng.phrase_search(
        "banana cantalope", k=10, select=["conv_id", "turn_idx"])),
        want, "mixed")


def test_append_explicit_positions_ignored_on_existing(
        spark, transcripts, tmp_path_factory):
    """An explicit positions flag on append_docs is honored only for the
    FIRST segment of a brand-new collection; once postings exist the
    detected layout wins, so one stray POST /write?positions=true can
    never turn a positionless index mixed-layout (and vice versa)."""
    half1 = transcripts.filter(F.col("conv_id") < "conv00000020")
    half2 = transcripts.filter(F.col("conv_id") >= "conv00000020")

    flat = str(tmp_path_factory.mktemp("flatkeep") / "collection")
    B.build_index(spark, half1, flat, positions=False)
    api.append_docs(spark, half2, flat, positions=True)  # ignored
    assert "positions_bin" not in B.read_postings(spark, flat).columns

    pos = str(tmp_path_factory.mktemp("poskeep") / "collection")
    B.build_index(spark, half1, pos, positions=True)
    api.append_docs(spark, half2, pos, positions=False)  # ignored
    post = B.read_postings(spark, pos)
    assert "positions_bin" in post.columns
    assert post.filter(F.col("positions_bin").isNull()).count() == 0


def test_append_positions_honored_after_truncate_index(
        spark, transcripts, tmp_path_factory):
    """truncate_index leaves lineage receipts behind but removes the
    index — layout-wise that state is a brand-new collection, so the
    first append's explicit positions flag must be honored again (a
    positionless collection can be rebuilt positional via
    truncate-index + append, and vice versa)."""
    root = str(tmp_path_factory.mktemp("truncpos") / "collection")
    half1 = transcripts.filter(F.col("conv_id") < "conv00000020")
    B.build_index(spark, half1, root, positions=False)
    assert "positions_bin" not in B.read_postings(spark, root).columns

    api.truncate_index(spark, root)
    api.append_docs(spark, half1, root, positions=True)
    post = B.read_postings(spark, root)
    assert "positions_bin" in post.columns
    assert post.filter(F.col("positions_bin").isNull()).count() == 0


def test_phrase_positional_lru_warm_repeat(spark, pos_engine, monkeypatch):
    """A repeat phrase query serves its positional decodes from the
    occurrence LRU: once the first run's reads covered each term's
    entire df (single-block fixture), the repeat issues ZERO additional
    postings reads (AND hits off the term LRU, positional arrays off the
    pos LRU) with identical hits; clear_cache() re-colds both."""
    pos_engine.clear_cache()
    calls = []
    orig = pos_engine._reader.read

    def spy(artifact, *a, **kw):
        if artifact == "postings":
            calls.append(1)
        return orig(artifact, *a, **kw)

    monkeypatch.setattr(pos_engine._reader, "read", spy)
    try:
        # "apple apples" is planted adjacently by the fixture generator
        # (i % 17 == 3 docs), so the AND candidate set and the phrase
        # result are both non-empty — the verify actually decodes
        h1 = _collect(pos_engine.phrase_search("apple apples", k=10))
        assert h1  # non-vacuous
        n1 = len(calls)
        assert n1 > 0  # cold run actually read postings
        assert pos_engine._pos_lru  # full-df reads fed the pos LRU
        h2 = _collect(pos_engine.phrase_search("apple apples", k=10))
        assert h2 == h1
        assert len(calls) == n1, "warm repeat re-read postings"
        pos_engine.clear_cache()
        assert not pos_engine._pos_lru
        h3 = _collect(pos_engine.phrase_search("apple apples", k=10))
        assert h3 == h1
        assert len(calls) > n1  # cold again after clear_cache
        # refresh() (the post-append invalidation) drops it too — a
        # stale positional decode must not survive an append
        assert pos_engine._pos_lru
        pos_engine.refresh()
        assert not pos_engine._pos_lru and pos_engine._pos_lru.used == 0
    finally:
        pos_engine.clear_cache()
