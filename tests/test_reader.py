"""The one driver-side read (reader.py): the pyarrow and the Spark
backend give the same table for the same ``where``."""

import pytest

from resin_spark import reader as R


@pytest.fixture(scope="module")
def backends(spark, index_root):
    arrow = R.open_reader(spark, index_root)
    sparkr = R.open_reader(spark, index_root, io_mode="spark")
    assert (arrow.name, sparkr.name) == ("pyarrow", "spark")
    return arrow, sparkr


def _same(backends, artifact, columns, where=None):
    a, s = (b.read(artifact, columns, where) for b in backends)
    assert [(f.name, f.type) for f in a.schema] == \
        [(f.name, f.type) for f in s.schema], (a.schema, s.schema)
    rows = sorted(a.to_pylist(), key=repr)
    assert rows == sorted(s.to_pylist(), key=repr)
    return rows


def test_backends_read_identical_tables(backends, spark, tmp_path):
    post = ["field", "term", "block_id", "df_block", "doc_ids_bin",
            "tfs_bin", "dls_bin", "segment"]
    by_terms = [{"field": "text", "term": ["banana", "apple"]},
                {"field": "role", "term": "user"}]
    rows = _same(backends, "postings", post, by_terms)
    assert {r["term"] for r in rows} == {"banana", "apple", "user"}
    blocks = sorted({r["block_id"] for r in rows})[:1]
    sub = _same(backends, "postings", post,
                [{**c, "block_id": blocks} for c in by_terms])
    assert sub and {r["block_id"] for r in sub} == set(blocks)

    docs = backends[0].schema("docs").names
    assert "ts" in docs
    ids = sorted(backends[0].read("docs", ["doc_id"])["doc_id"]
                 .to_pylist())[::7][:3]
    got = _same(backends, "docs", docs, {"doc_id": ids})
    assert sorted(r["doc_id"] for r in got) == ids and len(ids) == 3
    assert all(r["ts"] is not None for r in got)

    stats = _same(backends, "stats", ["field", "total_tokens", "n_docs"])
    assert {r["field"] for r in stats} >= {"text"}
    lineage = _same(backends, "lineage", ["segment", "n_rows"],
                    {"step": "segment", "status": "complete"})
    assert lineage

    assert _same(backends, "postings", post,
                 {"field": "text", "term": "zzznope"}) == []
    assert _same(backends, "postings", post, []) == []
    assert _same(backends, "docs", docs, {"doc_id": []}) == []

    # a missing artifact dir: the same empty table, and no schema
    missing = str(tmp_path / "no_such_index")
    gone = (R.open_reader(spark, missing),
            R.open_reader(spark, missing, io_mode="spark"))
    assert _same(gone, "postings", post, by_terms) == []
    assert _same(gone, "lineage", ["segment"]) == []
    assert [b.schema("postings") for b in gone] == [None, None]
