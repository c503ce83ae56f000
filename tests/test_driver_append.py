"""Driver-side segment writer (build._write_segment_driver) against the
Spark segment build (build._build_segment): the append route, artifact
parity row for row, and engine results on the appended roots."""

import datetime
import math
import os
import random
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from resin_spark import api
from resin_spark import build as B
from resin_spark.executor import SearchEngine
from resin_spark.fixtures import TRANSCRIPT_SCHEMA
from resin_spark.reference import build_oracle_index, oracle_search

TS = datetime.datetime(2024, 5, 1, 12, 0, 0, 123456,
                       tzinfo=datetime.timezone.utc)
COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
BATCH1 = [
    # a continuing conversation, Greek final sigma, a null tool
    ("conv00000003", 50, "user", "ΟΔΟΣ apple ΣΑΣ banana", None, TS),
    ("zz_new_b", 0, "assistant", "", "search", TS),  # empty text
    ("zz_new_a", 0, "user", "apple apple cherry apple", None, TS),
    ("zz_new_a", 1, "tool", "aΣ bΣc apple banana", "calc", TS),
    (None, 0, "user", "orphan apple", None, TS),  # dropped by the join
    ("zz_new_b", 1, "user", None, None, TS),
]
BATCH2 = [
    ("zz_new_c", 0, "user", "cherry ΟΔΟΣ οδος apple", "search", TS),
    ("conv00000001", 60, "assistant", "apple banana cherry", None, TS),
    ("zz_new_a", 2, "user", "banana apple banana", None, TS),
]
QUERIES = [
    {"or": {"text": "ΟΔΟΣ"}},
    {"or": {"text": "σας apple"}},
    {"and": {"text": "apple", "not": {"text": "banana"}}},
    {"or": {"text": "aς", "role": "tool"}},
]


def test_append_route_is_size_and_root():
    cap = 4 * B.DOCS_ROW_GROUP_BYTES
    assert B.append_route(16_384, cap, "/data/idx") == "driver"
    assert B.append_route(16_385, 0, "/data/idx") == "spark"
    assert B.append_route(10, cap + 1, "/data/idx") == "spark"
    assert B.append_route(0, 0, "file:///data/idx") == "driver"
    assert B.append_route(0, 0, "file:/data/idx") == "driver"
    assert B.append_route(10, 0, "hdfs://nn:8020/idx") == "spark"
    assert B.append_route(10, 0, "s3a://bucket/idx") == "spark"


def test_local_dir_parses_file_uris():
    for uri in ("file:/data/idx", "file:///data/idx",
                "file://localhost/data/idx", "FILE:/data/idx", "/data/idx"):
        assert B._local_dir(uri) == "/data/idx", uri
    for uri in ("hdfs://nn:8020/idx", "s3a://bucket/idx",
                "file://otherhost/data/idx"):
        assert B._local_dir(uri) is None, uri


def test_local_dir_follows_default_fs(spark):
    """A path with no scheme lives on fs.defaultFS: on an HDFS default
    it is not the driver's (only the configuration is read; no
    filesystem is opened)."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    old = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://nn:8020")
    try:
        assert B._local_dir("/data/idx") is None
        assert B.append_route(10, 0, "/data/idx") == "spark"
        assert B._local_dir("file:/data/idx") == "/data/idx"
    finally:
        if old is None:
            conf.unset("fs.defaultFS")
        else:
            conf.set("fs.defaultFS", old)
    assert B._local_dir("/data/idx") == "/data/idx"


def test_driver_writable_types():
    base = [pa.field("conv_id", pa.string()), pa.field("turn_idx", pa.int32()),
            pa.field("text", pa.string())]
    fields = ("text",)
    ok = pa.schema(base + [pa.field("ts", pa.timestamp("us", "UTC"))])
    assert B._driver_writable(ok, fields)
    # Spark writes timestamp_ntz as INT64, not INT96
    ntz = pa.schema(base + [pa.field("ts", pa.timestamp("us"))])
    assert not B._driver_writable(ntz, fields)
    dec = pa.schema(base + [pa.field("x", pa.decimal128(10, 2))])
    assert not B._driver_writable(dec, fields)
    assert not B._driver_writable(pa.schema(base), ("text", "role"))
    nonstr = pa.schema(base[:2] + [pa.field("text", pa.int64())])
    assert not B._driver_writable(nonstr, fields)


def _spark_append(spark, batch, root, seg, positions):
    conv_dim = B.extend_conv_dim(spark, batch, root)
    return B._build_segment(spark, batch.withColumn("segment", F.lit(seg)),
                            conv_dim, root, B.DEFAULT_FIELDS, seg,
                            write_doclens=True, positions=positions)


def _driver_append(spark, batch, root, seg, positions):
    return B._write_segment_driver(batch.toArrow(), root, B.DEFAULT_FIELDS,
                                   seg, positions=positions,
                                   write_doclens=True)


def _artifacts(spark, root):
    out = {"conv_dim": (B.p_conv_dim(root), None)}
    for name, path in (("docs", B.p_docs), ("postings", B.p_postings),
                       ("stats", B.p_stats), ("doclens", B.p_doclens)):
        d = path(root)
        out[name] = (d, f"{d}/segment=*")
    return {name: (d, spark.read.option("basePath", d).parquet(glob or d))
            for name, (d, glob) in out.items()}


def _bag(df):
    return Counter(tuple(bytes(v) if isinstance(v, bytearray) else v
                         for v in r) for r in df.collect())


def _assert_same_artifacts(spark, want_root, got_root):
    want, got = _artifacts(spark, want_root), _artifacts(spark, got_root)
    for name, (d, df) in got.items():
        assert df.dtypes == want[name][1].dtypes, name
        rows = _bag(df)
        assert rows == _bag(want[name][1]), name
        # the embedded (pyarrow) reader reads the mixed artifact too
        assert pads.dataset(d, format="parquet",
                            partitioning="hive").count_rows() == sum(
            rows.values()), name


@pytest.mark.parametrize("positions", [False, True],
                         ids=["positionless", "positional"])
def test_driver_writer_matches_spark_build(spark, transcripts, fixture_rows,
                                           tmp_path, positions):
    """Both segment writers append the same batches to twin roots:
    conv_dim, docs (ts as Spark reads it), postings (positions_bin when
    positional), stats and doclens stay row-identical — before and
    after a compact, whose versioned dirs the second append writes
    into — and both roots rank like reference.py."""
    spark_root = str(tmp_path / "spark")
    driver_root = str(tmp_path / "driver")
    B.build_index(spark, transcripts, spark_root, write_doclens=True,
                  positions=positions)
    shutil.copytree(spark_root, driver_root)

    seg = 2_000_000
    b1 = spark.createDataFrame(BATCH1, TRANSCRIPT_SCHEMA)
    assert _spark_append(spark, b1, spark_root, seg, positions) == 5
    assert _driver_append(spark, b1, driver_root, seg, positions) == 5
    _assert_same_artifacts(spark, spark_root, driver_root)

    # compact over the mixed root equals compact over the all-Spark one
    B.compact(spark, spark_root)
    B.compact(spark, driver_root)
    assert B.p_docs(driver_root).endswith("docs__v1")
    _assert_same_artifacts(spark, spark_root, driver_root)

    b2 = spark.createDataFrame(BATCH2, TRANSCRIPT_SCHEMA)
    assert _spark_append(spark, b2, spark_root, seg + 1, positions) == 3
    assert _driver_append(spark, b2, driver_root, seg + 1, positions) == 3
    _assert_same_artifacts(spark, spark_root, driver_root)

    rows = fixture_rows + [dict(zip(COLS, r)) for r in BATCH1 + BATCH2
                           if r[0] is not None]
    oracle = build_oracle_index(rows)
    engines = [SearchEngine(spark, r) for r in (spark_root, driver_root)]
    for q in QUERIES:
        want = oracle_search(oracle, q, k=10)
        assert want, q
        for eng in engines:
            got = eng.topk(q, k=10)
            assert [h[0] for h in got] == [h[0] for h in want], q
            assert all(math.isclose(s1, s2, rel_tol=0, abs_tol=1e-9)
                       for (_, s1), (_, s2) in zip(got, want)), q


def _assert_ranks_like_oracle(eng, rows, queries=QUERIES):
    oracle = build_oracle_index(rows)
    for q in queries:
        want = oracle_search(oracle, q, k=10)
        assert want, q
        got = eng.topk(q, k=10)
        assert [h[0] for h in got] == [h[0] for h in want], q
        assert all(math.isclose(s1, s2, rel_tol=0, abs_tol=1e-9)
                   for (_, s1), (_, s2) in zip(got, want)), q


def _slots(spark, root):
    return {r.conv_id: r.conv_slot
            for r in spark.read.parquet(B.p_conv_dim(root)).collect()}


def test_append_to_file_uri_root(spark, transcripts, fixture_rows, tmp_path,
                                 monkeypatch):
    """A ``file:/x`` root is the driver's own ``/x``: the driver writer
    appends under it (nothing lands below the working directory),
    conv_dim slots continue above the built ones, and compact's pointer
    file is written and found through the URI."""
    path = tmp_path / "idx"
    B.build_index(spark, transcripts, str(path))
    top = max(_slots(spark, str(path)).values())
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    uri = f"file:{path}"

    seg = api.append_docs(
        spark, spark.createDataFrame(BATCH1, TRANSCRIPT_SCHEMA), uri)["segment"]
    seg_dir = path / "docs" / f"segment={seg}"
    assert any(seg_dir.glob("part-*.parquet"))
    assert not (seg_dir / "_SUCCESS").exists()  # the driver route
    slots = _slots(spark, str(path))
    assert (slots["zz_new_a"], slots["zz_new_b"]) == (top + 1, top + 2)

    B.compact(spark, uri)
    assert B.p_docs(uri) == f"{uri}/docs__v1"
    api.append_docs(spark, spark.createDataFrame(BATCH2, TRANSCRIPT_SCHEMA),
                    uri)
    assert list(cwd.iterdir()) == []
    rows = fixture_rows + [dict(zip(COLS, r)) for r in BATCH1 + BATCH2
                           if r[0] is not None]
    _assert_ranks_like_oracle(SearchEngine(spark, uri), rows)


def test_wide_rows_route_to_spark_and_bound_row_groups(spark, transcripts,
                                                       tmp_path):
    """A batch over 4 * DOCS_ROW_GROUP_BYTES of Arrow data goes to the
    Spark build however few its rows; the driver writer, given wide rows
    directly, cuts docs row groups at about DOCS_ROW_GROUP_BYTES."""
    wide = [(f"zz_wide_{i:02d}", 0, "user", "x" * 300_000 + f" wide{i}",
             None, TS) for i in range(30)]
    batch = spark.createDataFrame(wide, TRANSCRIPT_SCHEMA)
    tbl = batch.toArrow()
    assert tbl.nbytes > 4 * B.DOCS_ROW_GROUP_BYTES

    root = str(tmp_path / "idx")
    B.build_index(spark, transcripts, root)
    seg = api.append_docs(spark, batch, root)["segment"]
    assert os.path.exists(f"{B.p_docs(root)}/segment={seg}/_SUCCESS")

    drv = str(tmp_path / "drv")
    assert B._write_segment_driver(tbl, drv, B.DEFAULT_FIELDS, 0) == 30
    (f,) = (tmp_path / "drv" / "docs" / "segment=0").glob("*.parquet")
    md = pq.ParquetFile(f).metadata
    sizes = [md.row_group(i).total_byte_size
             for i in range(md.num_row_groups)]
    assert md.num_row_groups > 2 and max(sizes) <= B.DOCS_ROW_GROUP_BYTES
    hits = SearchEngine(spark, drv).topk({"or": {"text": "wide7"}}, k=5)
    assert [h[0] for h in hits] == [("zz_wide_07", 0)]


def test_append_past_row_bound_runs_spark_build(spark, transcripts,
                                                fixture_rows, tmp_path):
    """DRIVER_APPEND_MAX_ROWS + 1 rows through append_docs take the
    Spark build (its _SUCCESS markers), which keeps the root's
    positional layout and doclens and ranks like reference.py."""
    root = str(tmp_path / "idx")
    B.build_index(spark, transcripts, root, write_doclens=True,
                  positions=True)
    rng = random.Random(5)
    words = ["apple", "banana", "cherry", "ΟΔΟΣ", "σας", "kiwi", "plum",
             "fig", "lime", "pear"]
    rows = [(f"zz_big_{i // 8:05d}", i % 8, ("user", "tool")[i % 5 == 0],
             " ".join(rng.choice(words) for _ in range(rng.randint(1, 12))),
             None, TS) for i in range(B.DRIVER_APPEND_MAX_ROWS + 1)]
    seg = api.append_docs(
        spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), root)["segment"]
    for path in (B.p_docs, B.p_postings, B.p_stats, B.p_doclens):
        assert os.path.exists(f"{path(root)}/segment={seg}/_SUCCESS"), path
    assert "positions_bin" in pads.dataset(
        f"{B.p_postings(root)}/segment={seg}", format="parquet").schema.names
    _assert_ranks_like_oracle(
        SearchEngine(spark, root),
        fixture_rows + [dict(zip(COLS, r)) for r in rows])
