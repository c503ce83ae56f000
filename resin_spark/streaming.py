"""Incremental index refresh via Structured Streaming.

The reference is batch append-only: new documents land as new index pages
(segments) that queries merge on the fly, and `optimize` compacts them
(/root/reference/src/Sir.Search/Session/WritableIndexStream.cs:37-54,
SessionFactory.cs:112-190).  SURVEY.md §2.8 notes Structured Streaming's
``foreachBatch`` is the idiomatic Spark driver for that refresh loop —
this module implements it:

    transcripts stream (file source / rate / kafka)
      -> writeStream.foreachBatch(index_microbatch)
           each micro-batch builds ONE index segment (build.append_segment:
           in-process for small batches on a driver-visible root, else
           the distributed _build_segment) and appends it with a lineage
           receipt; queries see it on the next postings read (segment
           dirs are just partitions).

Semantics and scale:
* segment id = micro-batch epoch offset by a base: append-only, no
  rewrites of earlier segments; exactly-once comes from the streaming
  checkpoint (a replayed batch overwrites its own segment dir —
  idempotent by construction since the segment id is the batch id).
* conv_dim growth: new conv_ids get slots ABOVE the current maximum
  (append-only dimension).  Slots are assigned within the micro-batch
  in sorted conv_id order, as the batch build assigns them — stable
  as long as each conversation arrives within one micro-batch (the
  transcript producer's natural unit).  Cross-batch turns of a known
  conv_id reuse its existing slot via the anti-join.
* compaction stays the batch job (api.compact) — run it out-of-band
  when segment count grows, exactly like Resin's `optimize`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resin_spark import build as B


# re-exported for backwards compatibility; implementation lives next to
# the build pipeline it must stay consistent with
extend_conv_dim = B.extend_conv_dim


def index_microbatch(root: str, fields: tuple[str, ...] = B.DEFAULT_FIELDS,
                     segment_base: int = 1000,
                     write_doclens: bool | None = None):
    """foreachBatch callback factory: each micro-batch becomes one index
    segment (idempotent on replay: segment id = base + batch id, and a
    replay rewrites that segment).

    Segments are written by build.append_segment, the same entry as
    api.append_docs: a micro-batch of at most
    build.DRIVER_APPEND_MAX_ROWS rows and 8 MiB of Arrow data for a
    driver-visible root is written in-process with pyarrow; larger ones
    and remote roots run the distributed segment build.  Streamed
    segments keep the index's positional layout.
    ``write_doclens=None`` auto-detects: if the
    index root already carries the doclens artifact, streamed segments
    keep writing it — otherwise a later compact would merge a doclens
    table covering only the pre-streaming docs."""

    def _fn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        B.append_segment(batch.sparkSession, batch, root,
                         segment_base + int(batch_id), fields,
                         write_doclens=write_doclens)

    return _fn


def stream_index(
    spark: SparkSession,
    source_dir: str,
    root: str,
    checkpoint_dir: str,
    schema: str = ("conv_id string, turn_idx int, role string, text string, "
                   "tool string, ts timestamp"),
    fields: tuple[str, ...] = B.DEFAULT_FIELDS,
    trigger_once: bool = True,
    write_doclens: bool | None = None,
):
    """File-source streaming index build: watch ``source_dir`` for new
    transcript parquet files, index each micro-batch as a new segment.

    ``trigger_once`` processes the backlog and stops (the batch-incremental
    refresh pattern); set False for a continuous 30s-trigger stream."""
    from resin_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    stream = (
        spark.readStream.schema(schema).parquet(source_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            index_microbatch(root, fields, write_doclens=write_doclens)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()


def _with_watermark(df: DataFrame, ts: str, watermark: str) -> DataFrame:
    """Streaming frames get the event-time watermark; withWatermark
    requires TIMESTAMP, so an NTZ event-time column is converted to the
    instant whose UTC wall clock EQUALS the NTZ wall clock —
    ``convert_timezone('UTC', sessionTz, ntz)`` then cast applies the
    session zone twice in opposite directions, so the result is
    session-timezone-independent (incl. DST) and the streaming windows
    match the batch (NTZ wall-clock) form exactly.  Batch frames pass
    through untouched."""
    if not df.isStreaming:
        return df
    if dict(df.dtypes)[ts] == "timestamp_ntz":
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        df = df.withColumn(
            ts,
            F.expr(f"cast(convert_timezone('UTC', '{tz}', {ts}) as timestamp)"),
        )
    return df.withWatermark(ts, watermark)


def _epoch_seconds(c) -> "F.Column":
    """NTZ-safe epoch seconds: wall-clock minus the epoch wall-clock (a
    day-time interval cast truncates to whole seconds).  No session-
    timezone dependence for TIMESTAMP_NTZ inputs; LTZ inputs are first
    cast to NTZ via the session zone (documented)."""
    ntz = c.cast("timestamp_ntz")
    return (ntz - F.expr("timestamp_ntz'1970-01-01 00:00:00'")).cast("long")


def windowed_event_counts(df: DataFrame, window: str = "1 hour",
                          ts: str = "ts", keys: tuple[str, ...] = ("event_type",),
                          watermark: str = "5 minutes") -> DataFrame:
    """Event-time tumbling-window aggregation, batch OR streaming: on a
    streaming frame the watermark bounds state and drops late rows
    (append mode emits a window only once it is finalized); on a batch
    frame the same expression computes the full history.  Window starts
    align to the epoch, so results are engine-independent."""
    src = _with_watermark(df, ts, watermark)
    return (
        src.groupBy(F.window(ts, window).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            _epoch_seconds(F.col("win.start")).alias("win_start"),
            *keys,
            "n",
        )
    )


def stream_exact_dedup(df: DataFrame, key: str = "doc_id",
                       text: str = "text", ts: str = "ts",
                       within_watermark: str | None = None) -> DataFrame:
    """Streaming exact dedup, declarative form: fingerprint the text and
    keep one row per fingerprint.

    * streaming + ``within_watermark``: ``dropDuplicatesWithinWatermark``
      — per-key state is EVICTED once the watermark passes its event
      time, so state stays bounded at 100 TB/day ingest (duplicates
      farther apart than the watermark are deliberately re-admitted;
      that is the documented contract of the bounded-state form).
    * streaming, no watermark: ``dropDuplicates`` — exact forever, state
      grows with distinct keys (fine for bounded key spaces).
    * batch: the deterministic min-key representative
      (:func:`resin_spark.dedup.exact_dedup`), the parity twin asserted
      in tests.

    Streaming keeps the FIRST ARRIVAL per fingerprint (order = arrival);
    the batch twin keeps min(key).  The two agree whenever ingestion is
    key-ordered (the transcript producer's natural order) — asserted in
    tests/test_streaming.py.
    """
    from resin_spark.textops import fingerprint_col

    if not df.isStreaming:
        from resin_spark.dedup import exact_dedup

        return exact_dedup(df, key, text)
    w = df.select("*", fingerprint_col(text).alias("_fp"))
    if within_watermark is not None:
        w = _with_watermark(w, ts, within_watermark)
        return w.dropDuplicatesWithinWatermark(["_fp"]).drop("_fp")
    return w.dropDuplicates(["_fp"]).drop("_fp")


def first_seen_dedup(df: DataFrame, key: str = "doc_id",
                     text: str = "text") -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    one output row per text fingerprint — the first-seen occurrence —
    with duplicate accounting.

    Semantics per fingerprint group:

    * the first micro-batch that carries the fingerprint emits ONE row
      ``(fp, keep_id, batch_dups)`` where ``keep_id`` is the smallest
      ``key`` among that batch's occurrences (deterministic within-batch
      tie-break) and ``batch_dups`` counts the other same-batch
      occurrences suppressed;
    * every later batch only bumps the per-key state counter — nothing
      re-emits, so downstream sees each novel document exactly once (the
      training-data ingest contract: "new docs only" feeds).

    State is one int64 per distinct fingerprint (seen-count).  The same
    ``fn`` runs in BATCH mode through ``applyInPandas`` with an
    empty-state shim (Spark 4 rejects the stateful API on batch frames;
    each key is one group with no prior state), where it equals
    ``GROUP BY fp -> min(key), count(*)-1`` — that batch form is the
    DuckDB oracle entry
    ``dedup_first_seen`` wired in ``__spark_entry__.py``, so the exact
    Pandas code path the stream executes is hash-checked against SQL.

    Role analog: the reference's write session dedupes within-document
    term postings via ``AddIfUnique`` during ingest
    (/root/reference/src/Sir.Search/Session/WriteSession.cs:37-76); here
    the unit is whole documents across an unbounded stream, with Spark's
    state store supplying the persistence the reference gets from its
    in-memory dictionaries.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from resin_spark.textops import fingerprint_col

    w = df.select(F.col(key).alias("id"), fingerprint_col(text).alias("fp"))
    out_schema = StructType([
        StructField("fp", StringType()),
        StructField("keep_id", w.schema["id"].dataType),
        StructField("batch_dups", LongType()),
    ])

    def fn(group_key, pdfs, state):
        import pandas as pd

        total = 0
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            total += len(pdf)
            m = pdf["id"].min()
            best = m if best is None else min(best, m)
        seen = state.get[0] if state.exists else 0
        state.update((seen + total,))
        if seen == 0 and best is not None:
            yield pd.DataFrame(
                {"fp": [group_key[0]], "keep_id": [best],
                 "batch_dups": [total - 1]}
            )

    if df.isStreaming:
        return w.groupBy("fp").applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType="seen long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    # Batch mode: Spark 4 rejects applyInPandasWithState on batch frames,
    # so run the SAME fn via applyInPandas with an empty-state shim (each
    # key is one group with no prior state) — the code path the stream
    # executes is what gets oracle-checked.
    class _NoState:
        exists = False
        get = None

        def update(self, value):
            pass

    def batch_fn(group_key, pdf):
        import pandas as pd

        out = list(fn(group_key, iter([pdf]), _NoState()))
        return out[0] if out else pd.DataFrame(
            {"fp": [], "keep_id": [], "batch_dups": []})

    return w.groupBy("fp").applyInPandas(batch_fn, schema=out_schema)


def sessionize(df: DataFrame, key: str = "user_id", gap: str = "30 minutes",
               ts: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Gap-based sessionization via ``session_window`` (merge while the
    inter-event gap stays strictly under ``gap``), batch OR streaming —
    the declarative form of the reference-free 'custom stateful
    operator' (no applyInPandasWithState needed; Spark manages session
    state + watermark eviction)."""
    src = _with_watermark(df, ts, watermark)
    return (
        src.groupBy(F.col(key), F.session_window(ts, gap).alias("sess"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            _epoch_seconds(F.col("sess.start")).alias("sess_start"),
            "n_events",
        )
    )
