"""Public facade (SURVEY.md §7 file sketch): write/index/search/optimize.

Mirrors the reference's session surface:
* build_index / resume_build  — WriteSession + IndexSession (§3.2)
* SearchEngine.search         — SearchSession (§3.1)
* compact                     — `sir optimize` segment compaction (§3.3)
* truncate                    — SessionFactory.Truncate (S12)
* save_as                     — SaveAsJob CTAS (X11)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from resin_spark.build import build_index, compact, resume_build, _rm
from resin_spark.executor import SearchEngine

__all__ = [
    "SearchEngine",
    "build_index",
    "resume_build",
    "compact",
    "truncate",
    "save_as",
    "append_docs",
    "write_results",
]


# Segment-id namespaces: batch builds take [0, 1000), streaming
# micro-batches take [1000 + batch_id] (streaming.index_microbatch), and
# API/CLI appends allocate from APPEND_SEGMENT_BASE upward — disjoint
# ranges, so a resumed stream can never overwrite an appended segment
# (and vice versa).
APPEND_SEGMENT_BASE = 2_000_000


def append_docs(spark: SparkSession, batch: DataFrame, root: str,
                fields: tuple[str, ...] | None = None,
                segment: int | None = None,
                positions: bool | None = None) -> dict:
    """S8 write-session analog: append a batch of documents to an
    existing collection as ONE new index segment (the reference's HTTP
    POST write path runs WriteSession+IndexSession incrementally,
    /root/reference/src/Sir.HttpServer/Controllers/WriteController
    .cs:31-53 -> Sir.Search/Session/WriteSession.cs:26-38).  Same
    machinery as a streaming micro-batch (build.append_segment):
    conv_dim extends append-only (existing doc IDs immutable), and a
    batch of at most build.DRIVER_APPEND_MAX_ROWS rows and 8 MiB of
    Arrow data for a driver-visible root (build._local_dir) is written
    in-process with pyarrow after one Spark job that reads it; larger
    batches and remote roots run the distributed segment build.  Both
    routes write the same rows.

    Layout: the segment matches the existing index (positional or not,
    with or without doclens).  An explicit ``positions`` value is
    honored only for the first segment of a brand-new collection (one
    stray POST /write?positions=true must not write a positional
    segment into a positionless index).

    Idempotence: auto-allocated ids (``segment=None``) take the next
    free slot in the append namespace — re-running the same call appends
    the batch AGAIN (duplicate doc_ids, like POSTing twice).  For
    retry-safe appends pass an explicit ``segment``: if its lineage
    receipt is already complete the call is a no-op, otherwise the
    segment is (re)written in place — exactly the streaming micro-batch
    replay contract."""
    from resin_spark import build as B

    done = B.completed_segments(spark, root)
    if segment is None:
        seg = max((s for s in done if s >= APPEND_SEGMENT_BASE),
                  default=APPEND_SEGMENT_BASE - 1) + 1
    else:
        seg = int(segment)
        if seg in done:
            return {"segment": seg, "skipped": True}
    B.append_segment(spark, batch, root, seg, fields or B.DEFAULT_FIELDS,
                     positions=positions)
    return {"segment": seg}


def write_results(df: DataFrame, path: str, fmt: str = "json",
                  single_file: bool = False) -> None:
    """S9 JSON result sink: persist a query result (the reference's HTTP
    surface serializes SearchResult documents as JSON,
    /root/reference/src/Sir.HttpServer/Controllers/SearchController
    .cs:26-41).  ``single_file`` coalesces to one output part — only for
    top-k-sized results, never corpus-sized frames."""
    if fmt not in ("json", "parquet"):
        raise ValueError(f"unsupported result format: {fmt}")
    out = df.coalesce(1) if single_file else df
    getattr(out.write.mode("overwrite"), fmt)(path)


def truncate(spark: SparkSession, root: str) -> None:
    """Drop a whole collection (docs + indexes) — S12."""
    _rm(spark, root)


def truncate_index(spark: SparkSession, root: str) -> None:
    """Drop only the index tables, keep docs — SessionFactory.cs:79-110.
    If compaction versioned the artifacts, the current docs tree is first
    moved back to the plain (version-0) dir so it survives the pointer
    teardown."""
    from resin_spark import build as B

    cur_docs = B.p_docs(root)
    plain_docs = f"{root}/docs"
    if cur_docs != plain_docs and B._exists(spark, cur_docs):
        _rm(spark, plain_docs)
        fs, jvm = B._hadoop_fs(spark)
        Path = jvm.org.apache.hadoop.fs.Path
        fs.rename(Path(cur_docs), Path(plain_docs))
    B._gc_versions(spark, root, keep=set(),
                   plain_names=("postings", "doclens", "stats"))


def save_as(
    engine: SearchEngine,
    query: dict,
    new_root: str,
    k: int = 0,
    fields=None,
) -> dict:
    """X11 SaveAs: run a query, write results as a new indexed collection
    (SaveAsJob.Execute, /root/reference/src/Sir.HttpServer/Features/
    SaveAsJob.cs:53-95)."""
    out_fields = fields or engine.fields
    # select every column the rebuild will tokenize or store — search()'s
    # default projection only covers the transcript-shaped columns
    doc_cols = engine.documents().columns
    sel = [c for c in dict.fromkeys(
        ["conv_id", "turn_idx", *out_fields, "role", "text", "tool", "ts"]
    ) if c in doc_cols]
    result = engine.search(query, k=k, select=sel).drop("score")
    return build_index(
        engine.spark,
        result,
        new_root,
        fields=out_fields,
        # the derived collection inherits the source's physical layout
        positions="positions_bin" in engine.postings().columns,
    )
