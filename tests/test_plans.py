"""Physical-plan quality gates (SURVEY.md §4): predicate pushdown,
column pruning, distributed top-k, and structural skew handling must
survive refactors — these assertions read the executed plan, not timings."""

from pyspark.sql import functions as F

from resin_spark import build as B
from resin_spark.query import parse_query


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_lookup_pushdown_and_pruning(engine):
    """X1/X2: the postings term lookup must reach the Parquet scan as a
    data filter, and the scan must not read the binary posting columns
    when only metadata is selected."""
    matched = (
        engine.postings()
        .filter((F.col("field") == "text") & F.col("term").isin(["banana"]))
        .select("field", "term", "df_block")
    )
    plan = _plan(matched)
    assert "(field" in plan and "= text)" in plan
    assert "(term" in plan and "= banana)" in plan
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "doc_ids_bin" not in scan_line  # column pruning
    assert "Batched: true" in scan_line    # vectorized parquet reader


def test_point_fetch_pushdown(engine):
    """S2: doc point lookup filter reaches the doc scan (doc_id-sorted
    files => row-group min/max pruning)."""
    d = engine.documents().filter(F.col("doc_id") == 42).select("conv_id")
    plan = _plan(d)
    assert "doc_id" in plan and "= 42)" in plan
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "text" not in scan_line  # only conv_id/doc_id read


def test_topk_is_take_ordered(engine):
    """X7: top-k compiles to TakeOrderedAndProject (distributed partial
    top-k per partition + driver merge), NOT a global sort."""
    q = parse_query({"or": {"text": "banana"}})
    ranked = engine._ranked(q, "surface")
    topk = ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    assert "TakeOrderedAndProject" in _plan(topk)


def test_hot_term_blocks_fan_out(spark, tmp_path):
    """Skew: a term in ~30% of turns must land in MULTIPLE block rows
    (block_id ranges of doc space), not one giant posting list."""
    from resin_spark.fixtures import transcripts_df_distributed

    # >1 conv block requires > 2^CONV_BLOCK_BITS conversations
    n_convs = (1 << B.CONV_BLOCK_BITS) * 3
    t = transcripts_df_distributed(spark, n_convs, 4)
    root = str(tmp_path / "skew_idx")
    B.build_index(spark, t, root, fields=("text",))
    rows = (
        B.read_postings(spark, root)
        .filter(F.col("term") == "hotterm")
        .select("block_id", "df_block")
        .collect()
    )
    assert len(rows) >= 3, "hot term must fan out across block rows"
    # and no block row is a concentration point: bounded by block capacity
    max_block = max(r["df_block"] for r in rows)
    total = sum(r["df_block"] for r in rows)
    assert max_block < total, "postings must not concentrate in one block"


def test_postings_sorted_within_files(engine):
    """F2 analog: postings files are sorted by (field, term) so Parquet
    row-group min/max statistics can prune term lookups."""
    import pyarrow.parquet as pq
    import glob

    files = glob.glob(f"{B.p_postings(engine.root)}/segment=*/part-*.parquet")
    assert files
    for f in files[:3]:
        t = pq.read_table(f, columns=["field", "term"])
        pairs = list(zip(t["field"].to_pylist(), t["term"].to_pylist()))
        assert pairs == sorted(pairs)


def test_point_fetch_path_identical_and_pushed(engine, monkeypatch):
    """X8 big-table fetch: with the docs-size gate forced open, search()
    fetches via a pushed-down doc_id IN point scan and returns EXACTLY
    the rows of the broadcast-join path.  On the Spark read backend (the
    remote-root form) that scan is the docs read toArrow() runs, so its
    plan is the one checked: once for driver-scored hits, once for the
    distributed fold's eager top-k."""
    from strategies import forced_strategy, spark_io

    from resin_spark.executor import SearchEngine

    q = {"and": {"text": "banana", "not": {"text": "apples"}}}
    want = engine.search(q, k=5).collect()

    plans = []
    frame = type(engine.documents())
    to_arrow = frame.toArrow

    def spy(df):
        plans.append(_plan(df))
        return to_arrow(df)

    monkeypatch.setattr(frame, "toArrow", spy)
    monkeypatch.setattr(SearchEngine, "_POINT_FETCH_MIN_DOCS_BYTES", 0)
    for strategy in ("driver", "distributed"):
        plans.clear()
        with spark_io(engine), forced_strategy(engine, strategy):
            got = engine.search(q, k=5).collect()
        assert got == want and len(got) > 0, strategy
        docs_reads = [p for p in plans if "conv_id" in p]
        assert docs_reads, plans
        for plan in docs_reads:
            assert ("doc_id IN" in plan or "doc_id, [" in plan
                    or "In(doc_id" in plan), plan


def test_point_fetch_empty_result(engine, monkeypatch):
    from resin_spark.executor import SearchEngine

    monkeypatch.setattr(SearchEngine, "_POINT_FETCH_MIN_DOCS_BYTES", 0)
    assert engine.search({"or": {"text": "zzznosuchterm"}}, k=5).collect() == []


def test_term_directory_matches_metadata(engine):
    """X1 in-memory term index: the persisted directory must agree with
    the raw block metadata for every (field, term)."""
    want = {
        (r["field"], r["term"]): r["df"]
        for r in engine.postings()
        .groupBy("field", "term").agg(F.sum("df_block").alias("df"))
        .collect()
    }
    got = {
        (r["field"], r["term"]): r["df"]
        for r in engine.term_directory()
        .groupBy("field", "term").agg(F.sum("df").alias("df"))
        .collect()
    }
    assert got == want


def test_vectorspace_ops_stay_in_projection(spark):
    """T7/T3 plan gates: sparse arithmetic and CBOW are single
    Catalyst projections — no shuffle (Exchange), no Python (UDF
    nodes like BatchEvalPython / ArrowEvalPython / FlatMapsInPandas)."""
    from resin_spark import vectorspace as vs

    df = spark.createDataFrame(
        [([1.0, 0.0, 2.0],)], "embedding array<float>"
    )
    m = vs.to_sparse(F.col("embedding"))
    arith = df.select(
        vs.map_sum(vs.vec_average(vs.vec_multiply(m, 3.0),
                                  vs.vec_subtract(m, m))).alias("s")
    )
    plan = _plan(arith)
    assert "Exchange" not in plan and "Python" not in plan

    docs = spark.createDataFrame([("apple banana",)], "text string")
    cbow = docs.select(vs.cbow_vectors("text").alias("cb"))
    plan = _plan(cbow)
    assert "Exchange" not in plan and "Python" not in plan


def test_classify_broadcasts_exemplars(spark):
    """I6 plan gate: classify's exemplar side is a broadcast hash join,
    never a shuffle of the (streaming-sized) test side."""
    from resin_spark import vectorspace as vs

    train = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    test = spark.createDataFrame(
        [(10, [1.0, 0.1], 9)], "vec_id long, embedding array<float>, label int"
    )
    plan = _plan(vs.classify(test, train.select("embedding", "label")))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_term_df_driver_map_matches_distributed(engine, monkeypatch):
    """X1 driver mirror: the size-gated driver-side term-df dict must
    agree with the distributed term-directory lookup, and search results
    must be identical on both paths."""
    from resin_spark.executor import SearchEngine

    q = {"and": {"text": "apple apples"}}  # overlap docs guaranteed by fixture
    want = engine.search(q, k=10, select=["conv_id", "turn_idx"]).collect()

    eng2 = SearchEngine(engine.spark, engine.root)
    monkeypatch.setattr(SearchEngine, "_TERM_DF_DRIVER_MAX_ROWS", 0)
    assert eng2._term_df_driver_map() is None  # over the gate -> distributed
    got = eng2.search(q, k=10, select=["conv_id", "turn_idx"]).collect()
    assert got == want and len(got) > 0
    eng2.clear_cache()


def test_surface_df_lookup_is_driver_side(engine, monkeypatch):
    """Once the driver mirror is built, a surface-mode query must not
    touch the distributed term directory at all (the per-query df JOB is
    gone — the reference's RAM term tree behavior)."""
    assert engine._term_df_driver_map() is not None

    def boom(*a, **k):  # any distributed lookup would call this
        raise AssertionError("distributed term_directory used")

    monkeypatch.setattr(engine, "term_directory", boom)
    hits = engine.search({"or": {"text": "banana"}}, k=5,
                         select=["conv_id", "turn_idx"]).collect()
    assert len(hits) > 0
    hits2 = engine.search({"and": {"text": "apple apples"}}, k=5,
                          select=["conv_id", "turn_idx"]).collect()
    assert len(hits2) > 0
    engine.clear_cache()
