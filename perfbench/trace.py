"""Span tracing around the program's layer entry points.

``Tracer.install`` replaces each traced function at the attribute its
caller looks up (a class attribute for methods, a module attribute for
functions) with a wrapper that records one span: layer, name, start, end,
parent span and a work count.  Spans are kept in memory; the run writes
them out when it ends.  A wrapper records only while ``active`` is set, so
untraced operations of a traced run pay one flag test per call.

Layers and their entry points:

* executor  ``SearchEngine.search`` / ``phrase_search`` / ``refresh``
* postings  ``postings.decode_doc_ids`` / ``decode_counts`` /
            ``decode_positions`` (count: values decoded)
* io        ``pyarrow.parquet.ParquetFile.read_row_group`` and
            ``to_table`` of every dataset ``pyarrow.dataset.dataset``
            returns (count: rows read)
* spark     ``SparkSession.createDataFrame`` and ``DataFrame.collect``
* build     ``api.append_docs``

``DecodeCounter`` is the one wrapper every run installs, traced or not: it
counts the values the postings decoders return, so each op's share of
decoding (or its being served from the LRUs) is known for every timed op.
"""

from __future__ import annotations

import functools
import time


class _TracedDataset:
    """Stands in for a pyarrow dataset so its ``to_table`` is traced; every
    other attribute is the dataset's own."""

    def __init__(self, ds, to_table):
        self._ds = ds
        self.to_table = to_table

    def __getattr__(self, name):
        return getattr(self._ds, name)


class DecodeCounter:
    """Values returned by the postings decoders since install: one
    addition per decoder call."""

    NAMES = ("decode_doc_ids", "decode_counts", "decode_positions")

    def __init__(self):
        self.n = 0
        self._restore: list[tuple] = []

    def install(self) -> None:
        from resin_spark import postings

        for attr in self.NAMES:
            fn = postings.__dict__[attr]
            self._restore.append((attr, fn))
            setattr(postings, attr, self._counting(fn))

    def _counting(self, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.n += len(out)
            return out

        return counted

    def uninstall(self) -> None:
        from resin_spark import postings

        for attr, fn in self._restore:
            setattr(postings, attr, fn)
        self._restore.clear()


class Tracer:
    def __init__(self):
        self.active = False
        self.op = -1
        self.spans: list[tuple] = []  # (op, layer, name, t0, t1, parent, n)
        self._stack: list[int] = []
        self._first = 0
        self._restore: list[tuple] = []

    # ------------------------------------------------------------ spans
    def _wrap(self, layer: str, name: str, fn, count=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            parent = tracer._stack[-1] if tracer._stack else -1
            sid = len(tracer.spans)
            tracer.spans.append(None)
            tracer._stack.append(sid)
            n = 0
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                n = count(out) if count else 0
                return out
            finally:
                t1 = time.perf_counter()
                tracer._stack.pop()
                tracer.spans[sid] = (tracer.op, layer, name, t0, t1, parent, n)

        return traced

    def _patch(self, owner, attr: str, layer: str, count=None) -> None:
        fn = owner.__dict__[attr]
        self._restore.append((owner, attr, fn))
        setattr(owner, attr, self._wrap(layer, attr, fn, count))

    def install(self, spark) -> None:
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        from resin_spark import api, executor, postings

        eng = executor.SearchEngine
        for attr in ("search", "phrase_search", "refresh"):
            self._patch(eng, attr, "executor")
        for attr in ("decode_doc_ids", "decode_counts", "decode_positions"):
            self._patch(postings, attr, "postings", len)
        self._patch(pq.ParquetFile, "read_row_group", "io",
                    lambda t: t.num_rows)
        self._patch(type(spark), "createDataFrame", "spark")
        self._patch(type(spark.range(0)), "collect", "spark")
        self._patch(api, "append_docs", "build")

        opened = pads.dataset
        self._restore.append((pads, "dataset", opened))

        def dataset(*args, **kwargs):
            ds = opened(*args, **kwargs)
            return _TracedDataset(ds, self._wrap(
                "io", "to_table", ds.to_table, lambda t: t.num_rows))

        pads.dataset = dataset

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # --------------------------------------------------------- per op
    def begin(self, op) -> None:
        self.op = op
        self._first = len(self.spans)
        self.active = True

    def end(self) -> dict:
        """Stop recording; per-layer time (ms) and work counts of the op.
        An executor span's self time is its duration minus its direct
        children's."""
        self.active = False
        self.op = -1
        mine = [(i, self.spans[i])
                for i in range(self._first, len(self.spans))]
        child_s: dict[int, float] = {}
        for _, s in mine:
            if s[5] >= 0:
                child_s[s[5]] = child_s.get(s[5], 0.0) + s[4] - s[3]
        out = {"executor_ms": 0.0, "executor_self_ms": 0.0, "refresh_ms": 0.0,
               "decode_ms": 0.0, "values": 0, "doc_ids": 0,
               "io_ms": 0.0, "row_groups": 0, "scans": 0, "rows_read": 0,
               "create_df_ms": 0.0, "collect_ms": 0.0, "append_ms": 0.0}
        for i, (_, layer, name, t0, t1, parent, n) in mine:
            ms = (t1 - t0) * 1e3
            if layer == "executor":
                if name == "refresh":
                    out["refresh_ms"] += ms
                    continue
                if parent < 0 or self.spans[parent][1] != "executor":
                    out["executor_ms"] += ms
                out["executor_self_ms"] += ms - child_s.get(i, 0.0) * 1e3
            elif layer == "postings":
                out["decode_ms"] += ms
                out["values"] += n
                if name == "decode_doc_ids":
                    out["doc_ids"] += n
            elif layer == "io":
                out["io_ms"] += ms
                out["rows_read"] += n
                out["row_groups" if name == "read_row_group"
                    else "scans"] += 1
            elif layer == "spark":
                out["create_df_ms" if name == "createDataFrame"
                    else "collect_ms"] += ms
            elif layer == "build":
                out["append_ms"] += ms
        return out
