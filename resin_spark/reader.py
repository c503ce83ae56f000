"""One driver-side read: ``read(artifact, columns, where) -> pa.Table``.

Every driver-side read of an index artifact (posting blocks, docs rows,
stats, lineage receipts) goes through one reader with two backends:

* ``ArrowReader`` — a cached ``pyarrow.dataset`` per artifact dir, for a
  root the driver can read itself (``build._local_dir``): the embedded
  read session of the reference (SessionFactory caches column readers
  over local streams and ReadSession scores in-process,
  SearchSession.cs:34-46);
* ``SparkReader`` — the Spark reader of the artifact, ``filter()``,
  ``select()``, ``toArrow()``: a remote root, or ``io_mode='spark'``.

``where`` is an OR of conjunctions: a dict ``{col: value}`` is one
conjunction, a list of dicts their OR.  A list/tuple/set value means
``col IN (...)``; any other value ``col == value``.  ``None`` reads every
row; an empty list reads none.  Both backends return the same rows with
the same column types (timestamps as ``timestamp[us, UTC]``), in no
particular order.  A missing or empty artifact reads as an empty table
whose columns have the null type, and its ``schema`` is None.
"""

from __future__ import annotations

import os

from resin_spark import build as B

_VALUE_SETS = (list, tuple, set, frozenset)


def _conjunctions(where) -> list[dict]:
    return [where] if isinstance(where, dict) else list(where)


def _values(v) -> list:
    return sorted(v) if isinstance(v, (set, frozenset)) else list(v)


def _any_of(conjs: list[dict], term):
    """OR over ``conjs`` of the AND of ``term(col, value)`` per item."""
    from functools import reduce

    return reduce(lambda a, b: a | b, [
        reduce(lambda a, b: a & b, [term(c, v) for c, v in conj.items()])
        for conj in conjs])


def _missing(columns) -> "pa.Table":
    import pyarrow as pa

    return pa.table({c: pa.array([], pa.null()) for c in columns})


def _utc_timestamps(schema):
    """``schema`` with every zone-less timestamp as ``timestamp[us, UTC]``:
    Spark writes its timestamps as UTC instants (INT96), which pyarrow
    reads without a zone, and toArrow() returns them zoned."""
    import pyarrow as pa

    return pa.schema([
        f.with_type(pa.timestamp("us", tz="UTC"))
        if pa.types.is_timestamp(f.type) and f.type.tz is None else f
        for f in schema])


def utc_table(tbl):
    """``tbl`` with zone-less timestamps cast as in _utc_timestamps."""
    schema = _utc_timestamps(tbl.schema)
    return tbl if schema.equals(tbl.schema) else tbl.cast(schema)


class ArrowReader:
    """pyarrow backend over the driver-visible dirs of ``root``, resolved
    at the snapshot pointer once per reader: the same staleness as the
    cached Spark readers (refresh() opens a new reader).  With a
    ``memo`` dict that outlives the reader, an unfiltered read re-reads
    only the files added since the last one: published files are never
    rewritten in place (a compact writes new dirs)."""

    name = "pyarrow"

    def __init__(self, root: str, local_root: str,
                 snapshot: int | None = None, memo: dict | None = None):
        self.root = root
        self.local_root = local_root
        self.snapshot = snapshot
        self._memo = memo
        self._dirs: dict | None = None
        self._ds: dict = {}

    def _dir(self, artifact: str) -> str:
        if artifact == "lineage":
            return os.path.join(self.local_root, "lineage")
        if self._dirs is None:
            self._dirs = (B._pointer_at(self.root, self.snapshot)
                          if self.snapshot is not None
                          else B._local_pointer(self.local_root)[1])
        return os.path.join(self.local_root,
                            self._dirs.get(artifact, artifact))

    def dataset(self, artifact: str):
        """The cached dataset of ``artifact``, or None when its dir is
        missing or holds no files.  Opened through the module attribute
        ``pyarrow.dataset.dataset`` at first use, so a wrapper installed
        there sees every scan."""
        if artifact not in self._ds:
            import pyarrow.dataset as pads

            d = self._dir(artifact)
            ds = (pads.dataset(d, format="parquet", partitioning="hive")
                  if os.path.isdir(d) else None)
            self._ds[artifact] = ds if ds is not None and ds.files else None
        return self._ds[artifact]

    def schema(self, artifact: str):
        ds = self.dataset(artifact)
        return None if ds is None else _utc_timestamps(ds.schema)

    def read(self, artifact: str, columns, where=None):
        import pyarrow as pa
        import pyarrow.dataset as pads

        ds = self.dataset(artifact)
        if ds is None:
            return _missing(columns)
        if where is None and self._memo is not None:
            return self._read_new(artifact, ds, list(columns))
        expr = None
        if where is not None:
            conjs = _conjunctions(where)
            if not conjs:
                return self.schema(artifact).empty_table().select(
                    list(columns))

            def term(col, v):
                c = pads.field(col)
                if isinstance(v, _VALUE_SETS):
                    # a typed value set: an empty one matches nothing
                    return c.isin(pa.array(_values(v),
                                           type=ds.schema.field(col).type))
                return c == v

            expr = _any_of(conjs, term)
        return utc_table(ds.to_table(columns=list(columns), filter=expr))

    def _read_new(self, artifact: str, ds, columns: list):
        """Every row of ``artifact``: the memo's table plus the files
        published since it was read."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        key = (artifact, tuple(columns))
        files = frozenset(ds.files)
        old, tbl = self._memo.get(key, (frozenset(), None))
        if not old <= files:  # a compact: start over
            old, tbl = frozenset(), None
        if files - old:
            new = utc_table(pads.dataset(
                sorted(files - old), schema=ds.schema, format="parquet",
                partitioning="hive", partition_base_dir=self._dir(artifact),
            ).to_table(columns=columns))
            tbl = new if tbl is None else pa.concat_tables([tbl, new])
        self._memo[key] = (files, tbl)
        return tbl


class SparkReader:
    """Spark backend: ``filter().select().toArrow()`` over the artifact's
    Spark reader.  ``frames`` maps an artifact to a zero-argument
    callable returning its (cached) DataFrame; the others are built
    from ``build.read_*``."""

    name = "spark"

    def __init__(self, spark, root: str, snapshot: int | None = None,
                 frames: dict | None = None):
        self.spark = spark
        self.root = root
        self.snapshot = snapshot
        self._frames = frames or {}

    def frame(self, artifact: str):
        """The artifact's DataFrame, or None when it is missing or
        holds no files."""
        from pyspark.errors import AnalysisException

        make = self._frames.get(artifact)
        try:
            if make is not None:
                return make()
            if artifact == "lineage":
                return self.spark.read.parquet(B.p_lineage(self.root))
            read = {"docs": B.read_docs, "postings": B.read_postings,
                    "stats": B.read_stats}[artifact]
            return read(self.spark, self.root, self.snapshot)
        except AnalysisException as e:
            if e.getCondition() in ("PATH_NOT_FOUND",
                                    "UNABLE_TO_INFER_SCHEMA"):
                return None
            raise

    def schema(self, artifact: str):
        from pyspark.sql.pandas.types import to_arrow_schema

        df = self.frame(artifact)
        return None if df is None else to_arrow_schema(df.schema)

    def read(self, artifact: str, columns, where=None):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        df = self.frame(artifact)
        if df is None:
            return _missing(columns)
        if where is not None:
            conjs = _conjunctions(where)
            if not conjs:
                return to_arrow_schema(
                    df.select(*columns).schema).empty_table()
            df = df.filter(_any_of(conjs, lambda col, v: (
                F.col(col).isin(_values(v)) if isinstance(v, _VALUE_SETS)
                else F.col(col) == v)))
        return df.select(*columns).toArrow()


def open_reader(spark, root: str, snapshot: int | None = None,
                io_mode: str = "auto", frames: dict | None = None,
                memo: dict | None = None):
    """The reader for ``root``: pyarrow when the driver can read the root
    itself and ``io_mode`` is 'auto', else Spark."""
    local = B._local_dir(root) if io_mode == "auto" else None
    if local is not None:
        return ArrowReader(root, local, snapshot, memo)
    return SparkReader(spark, root, snapshot, frames)
