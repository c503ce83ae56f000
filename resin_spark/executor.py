"""Query execution: map → reduce → sort → fetch (SURVEY.md §2.7).

The reference's pipeline (SearchSession.cs:48-71) becomes:

* map    (X1/X2): predicate-pushed scan of the postings table —
         ``field = f AND term IN (tokens)`` reaches the Parquet reader
         (PushedFilters), and since postings files are sorted by
         (field, term) the row-group min/max stats prune almost all I/O.
         No tree walk, no per-segment loop: segments are just partitions.
* score  (X6, north rule): BM25 with driver-computed idf/avgdl constants
         folded into a single JVM expression (float64, op-order identical
         to the oracle so scores match bit-for-bit).
* reduce (X4/X5): Resin's boolean fold, faithfully, over MASK CLASSES —
         one per-doc aggregation tags each doc with the set of query keys
         it matched; the fold (and=intersect+sum, or=boost-existing-only,
         not=subtract) runs driver-side over those classes, including the
         quirks: an unmatched term is *skipped* (not intersected) and a
         term merged into an *empty* result re-inserts all its postings
         (Reducer.cs:86-149).  The score is one class-keyed expression.
* sort   (X7): orderBy(score desc, doc_id asc).offset(skip).limit(take)
         => TakeOrderedAndProject (true distributed top-k, no full sort).
* fetch  (X8): late materialization — broadcast the k result keys against
         the docs table (docs files are doc_id-sorted so min/max stats
         prune the scan).

Scale notes: the only data-proportional work is the postings scan of the
queried terms' blocks; everything after operates on matched postings only.
The df lookup touches <= #terms rows; the class histogram (only when the
fold's branches depend on the data) aggregates matched postings.
"""

from __future__ import annotations

import json
import math
from functools import reduce as _functools_reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resin_spark import build as B
from resin_spark import reader as R
from resin_spark.query import Query, parse_query, query_terms
from resin_spark.tokenizer import chars_key_py

K1 = 1.2
BB = 0.75


class _BoundedLRU:
    """Least-recently-used map of tuples of parallel arrays, bounded by
    the total row count (postings, occurrences or blocks) of its
    entries.  A value bigger than the whole budget is dropped, and a
    zero budget stores nothing.  A value may be ``None`` (a cached
    negative outcome, size 0): test ``key in lru`` before ``get`` to
    tell it from a miss."""

    def __init__(self, budget: int):
        from collections import OrderedDict

        self.budget = budget
        self._d: OrderedDict = OrderedDict()
        self.used = 0

    @staticmethod
    def _size(value) -> int:
        return 0 if value is None else len(value[0])

    def get(self, key):
        got = self._d.get(key)
        if key in self._d:
            self._d.move_to_end(key)
        return got

    def put(self, key, value) -> None:
        n = self._size(value)
        if n > self.budget or not self.budget:
            return
        if key in self._d:
            self.used -= self._size(self._d.pop(key))
        self._d[key] = value
        self.used += n
        while self.used > self.budget:
            _, ev = self._d.popitem(last=False)
            self.used -= self._size(ev)

    def clear(self) -> None:
        self._d.clear()
        self.used = 0

    def __len__(self) -> int:
        return len(self._d)

    def __contains__(self, key) -> bool:
        return key in self._d


def _by_key(tbl) -> dict:
    """The rows of an Arrow table of posting blocks per (field, term)
    key: ``{key: sub-table}``."""
    rows: dict = {}
    for i, key in enumerate(zip(tbl.column("field").to_pylist(),
                                tbl.column("term").to_pylist())):
        rows.setdefault(key, []).append(i)
    return {key: tbl.take(ix) for key, ix in rows.items()}


def _decode_merged(tbl):
    """Decode the posting blocks of ONE (field, term) key (an Arrow table
    with the ``*_bin`` columns) into its sorted-unique ``(doc_id, tf,
    dl)`` int64 arrays.  Rows from several segments may hold the same
    doc: tf sums over them, dl takes the max (surface mode has one row
    per (doc, key), so both are identity).  The decoders are looked up
    on the postings module at call time, so anything that wraps them
    there sees every decode."""
    import numpy as np

    from resin_spark import postings as P

    def dec(col, fn):
        return np.concatenate([fn(b) for b in tbl.column(col).to_pylist()])

    ids = dec("doc_ids_bin", P.decode_doc_ids)
    tfs = dec("tfs_bin", P.decode_counts)
    dls = dec("dls_bin", P.decode_counts)
    uid, inv = np.unique(ids, return_inverse=True)
    tf = np.zeros(len(uid), dtype=np.int64)
    np.add.at(tf, inv, tfs)
    dl = np.zeros(len(uid), dtype=np.int64)
    np.maximum.at(dl, inv, dls)
    return uid, tf, dl


class SearchEngine:
    """Facade over an index at ``root`` (SURVEY.md §7 api.py)."""

    def __init__(self, spark: SparkSession, root: str,
                 fields: tuple[str, ...] = B.DEFAULT_FIELDS,
                 snapshot: int | None = None, io_mode: str = "auto"):
        """``snapshot`` pins every artifact read to that pointer version
        (time travel / rollback reads over the Iceberg-style snapshot
        commit; see build.list_snapshots).  None = follow the newest
        pointer, re-resolved per cached reader as today.

        ``io_mode`` selects only the backend of the driver-side reads
        (reader.py): every one of them — posting blocks, docs rows, stats
        — is one ``read(artifact, columns, where)`` returning an Arrow
        table.  'auto' reads through pyarrow when the root is
        driver-visible (build._local_dir): zero Spark jobs on the warm
        query path, the analog of the reference's embedded read session
        (SessionFactory caches ColumnReaders over local streams and
        ReadSession scores in-process, SearchSession.cs:34-46).  A remote
        root (hdfs://, s3://) or 'spark' reads through the engine's
        Spark readers with ``filter().select().toArrow()``.  The backend
        is chosen here and in refresh().  Both backends run the same
        strategies, except that the block-max decode, the embedded
        term-df mirror and the targeted docs point read need the pyarrow
        dataset; the distributed fold remains the only path above the
        driver caps.  All strategies are rank-identity-tested against
        each other and the oracle."""
        from resin_spark.session import ensure_package_shipped

        ensure_package_shipped(spark)
        self.spark = spark
        self.root = root
        self.fields = fields
        self.snapshot = snapshot
        self.io_mode = io_mode
        self._stats: dict[str, dict] | None = None
        self._cached: list[DataFrame] = []
        self._docs_df: DataFrame | None = None
        # kept across refresh(): appends add rows, never docs columns, so
        # the re-created reader skips Spark's schema-inference job
        self._docs_schema = None
        self._postings_df: DataFrame | None = None
        self._term_dir: DataFrame | None = None
        self._term_df_driver: dict | None = None
        self._term_df_checked = False
        # (files, block rows, df map) the embedded mirror was built from,
        # kept across refresh(): published files are immutable, so after
        # an append only the new files are read and their df added
        self._term_df_base: tuple | None = None
        # per-file footer reads and the stats read, also kept across
        # refresh() (the reader's memo)
        self._per_file: dict = {}
        self._docs_size: int | None = None
        # row-group directory of the docs files (_docs_rg_index)
        self._docs_rg = None
        # decoded-postings LRU: (field, term) -> (uid, tf, dl) numpy
        # arrays, bounded by total postings (_TERM_LRU_MAX_POSTINGS ≈
        # 24 B/posting decoded).  The driver-side analog of the
        # reference's per-session ColumnReader cache
        # (SessionFactory.cs:396-403): repeat queries over warm terms
        # skip the postings read entirely.  clear_cache() drops it, so
        # benchmarks that reset between trials never time a cache hit.
        self._term_lru = _BoundedLRU(self._TERM_LRU_MAX_POSTINGS)
        # block-stats LRU: (field, term) -> merged (bids, ub_tf, ub_dl,
        # raw_rows) bound arrays for the block-max paths (or None for a
        # term whose raw stat rows bust _BLOCKMAX_MAX_STAT_ROWS — the
        # bail outcome is deterministic at the engine's pinned snapshot,
        # so it caches too).  A repeat hot-term query skips the stats
        # scan the way the term LRU skips the postings read.
        self._stats_lru = _BoundedLRU(self._STATS_LRU_MAX_BLOCKS)
        self.stats_lru_misses = 0  # diagnostic counter (tests/bench)
        # positional-occurrence LRU: (field, term) -> (drep, pos) int64
        # arrays (one row per occurrence, PRE-candidate-filter), fed by
        # _phrase_verify_positions_driver when a read turned out to cover
        # the term's entire df — the same full-read-only rule as the term
        # LRU.  A repeat phrase query then skips the positional read +
        # varint decode entirely.  Bounded by total occurrences; dropped
        # by clear_cache()/refresh() with the other caches.
        self._pos_lru = _BoundedLRU(self._POS_LRU_MAX_OCC)
        self.last_and_stats: dict = {}
        self.last_blockmax_stats: "dict | None" = None
        self._pick_reader()

    _TERM_LRU_MAX_POSTINGS = 4_000_000  # ~100 MB decoded
    _POS_LRU_MAX_OCC = 4_000_000  # ~64 MB decoded occurrence rows

    # ------------------------------------------------------- embedded IO
    # term-df mirrors built by the embedded path group over the postings
    # BLOCK rows driver-side; above this row count the Spark groupBy runs
    # instead (the mirror itself stays gated by _TERM_DF_DRIVER_MAX_ROWS)
    _PA_TERM_DIR_MAX_BLOCK_ROWS = 5_000_000

    def _pick_reader(self) -> None:
        """Choose the read backend (reader.open_reader) from the root and
        io_mode; the Spark one reads through the engine's cached
        readers."""
        self._reader = R.open_reader(
            self.spark, self.root, self.snapshot, self.io_mode,
            frames={"docs": self.documents, "postings": self.postings},
            memo=self._per_file)

    # ------------------------------------------------------------ stores
    def documents(self) -> DataFrame:
        # reuse the DataFrame across queries: its FileIndex caches the
        # directory listing + parquet footers (re-listing per query costs
        # more than the query itself on object stores)
        if self._docs_df is None:
            self._docs_df = B.read_docs(self.spark, self.root, self.snapshot,
                                        self._docs_schema)
            self._docs_schema = self._docs_df.schema
        return self._docs_df

    def postings(self) -> DataFrame:
        if self._postings_df is None:
            self._postings_df = B.read_postings(self.spark, self.root, self.snapshot)
        return self._postings_df

    def term_directory(self) -> DataFrame:
        """X1 — the in-memory term index analog.  The reference holds its
        term tree in RAM per session (SessionFactory caches ColumnReaders
        over the .ix stream); Spark-side that's a persisted metadata-only
        frame (field, term, chars_key, df) aggregated over segments and
        blocks — O(#terms) rows, no posting binaries.  First access pays
        one build job; every later query's df lookup filters the cached
        columnar frame instead of re-scanning parquet footers.  At 100 TB
        this is the term dictionary — it spreads across executor block
        managers (MEMORY_AND_DISK: cold terms spill, never OOM)."""
        if self._term_dir is None:
            from pyspark import StorageLevel

            self._term_dir = (
                self.postings()
                .groupBy("field", "term", "chars_key")
                .agg(F.sum("df_block").alias("df"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._term_dir

    # vocabulary small enough to mirror onto the driver: one dict lookup
    # replaces the per-query df collect JOB (~0.3-0.4 s of pure Spark
    # scheduling at any corpus size).  Above the gate — a 100 TB-scale
    # vocabulary — df lookups stay on the persisted distributed frame.
    _TERM_DF_DRIVER_MAX_ROWS = 1_000_000

    def _term_df_driver_map(self) -> dict | None:
        """Driver-side (field, term) -> df mirror of the term directory —
        the literal RAM term tree of the reference (SessionFactory caches
        ColumnReaders; PathFinder reads weights off in-memory nodes).
        Size-gated: returns None (caller uses the distributed lookup)
        when the vocabulary exceeds _TERM_DF_DRIVER_MAX_ROWS."""
        if not self._term_df_checked:
            self._term_df_checked = True
            ds = (self._reader.dataset("postings")
                  if self._reader.name == "pyarrow" else None)
            if ds is not None:
                import pyarrow.dataset as pads

                files = frozenset(ds.files)
                old, n_rows, df = self._term_df_base or (frozenset(), 0, {})
                if not old <= files:  # a segment rewritten, or compacted
                    old, n_rows, df = frozenset(), 0, {}
                new = (pads.dataset(sorted(files - old), format="parquet")
                       if files - old else None)
                if new is not None:
                    n_rows += new.count_rows()
                if n_rows <= self._PA_TERM_DIR_MAX_BLOCK_ROWS:
                    if new is not None:
                        # embedded mirror: group block rows driver-side;
                        # Σ df_block over blocks = df exactly as the
                        # Spark path
                        agg = new.to_table(
                            columns=["field", "term", "df_block"]
                        ).group_by(["field", "term"]).aggregate(
                            [("df_block", "sum")])
                        keys = zip(agg["field"].to_pylist(),
                                   agg["term"].to_pylist())
                        df = dict(df)
                        get = df.get
                        df.update({k: get(k, 0) + v for k, v in zip(
                            keys, agg["df_block_sum"].to_pylist())})
                    self._term_df_base = (files, n_rows, df)
                    if len(df) <= self._TERM_DF_DRIVER_MAX_ROWS:
                        self._term_df_driver = df
                    return self._term_df_driver
                self._term_df_base = None
            rows = (
                self.term_directory().select("field", "term", "df")
                .limit(self._TERM_DF_DRIVER_MAX_ROWS + 1).collect()
            )
            if len(rows) <= self._TERM_DF_DRIVER_MAX_ROWS:
                self._term_df_driver = {
                    (r["field"], r["term"]): r["df"] for r in rows
                }
        return self._term_df_driver

    def _surface_df_map(self, by_field: dict, pred) -> dict:
        """df per queried (field, term) in surface mode: O(#query terms)
        dict lookups when the vocabulary fits on the driver, else one
        filtered collect off the persisted term directory."""
        m = self._term_df_driver_map()
        if m is not None:
            return {
                (f, t): m[(f, t)]
                for f, toks in by_field.items() for t in toks
                if (f, t) in m
            }
        df_rows = (
            self.term_directory().filter(pred)
            .groupBy("field", "term")
            .agg(F.sum("df").alias("df"))
            .collect()
        )
        return {(r["field"], r["term"]): r["df"] for r in df_rows}

    def refresh(self) -> None:
        """Drop EVERY cached listing/stat after new segments are
        appended: the Spark readers, the read backend with its pyarrow
        datasets (their file listing is materialized eagerly at
        construction, so an appended segment is invisible to a cached
        dataset even though the artifact dir is unchanged; the backend is
        chosen again here), and, through clear_cache(), the
        persisted frames and every LRU (a term's postings grow under
        append — a stale LRU hit, or the lru_warm fast path built on it,
        would keep serving the pre-append snapshot).  What was read from
        published files is kept (the docs schema, the df mirror's base,
        per-file footers and stats): files are never rewritten in place,
        so the reopen reads only the appended ones."""
        self._docs_df = None
        self._postings_df = None
        self._stats = None
        self._docs_size = None
        self._term_df_driver = None
        self._term_df_checked = False
        if self._term_dir is not None:
            self._term_dir.unpersist()
            self._term_dir = None
        self._docs_rg = None
        self._pick_reader()
        self.clear_cache()
        if self._term_df_base is not None:
            # embedded engine: rebuild the df mirror, stats and footer
            # index here (reading only the appended files), so the first
            # query after an append does not pay for the reopen
            self._term_df_driver_map()
            self.stats()
            self._docs_rg_index()

    def doc_count(self) -> int:
        """S13 — GetDocCount (SessionFactory.cs:54-62).  Every stats row
        carries the same segment-total n_docs; fall back to a docs count
        if no field produced postings at all."""
        st = self.stats()
        for f in self.fields:
            if f in st:
                return st[f]["n_docs"]
        if st:
            return next(iter(st.values()))["n_docs"]
        return self.documents().count()

    def scan(self, skip: int = 0, take: int = 0,
             select: list[str] | None = None) -> DataFrame:
        """S1 — ordered scan with skip/take paging + projection
        (DocumentStreamSession.cs:28-47)."""
        df = self.documents().orderBy("doc_id")
        if skip:
            df = df.offset(skip)
        if take:
            df = df.limit(take)
        if select:
            df = df.select(*select)
        return df

    def fetch(self, conv_id: str, turn_idx: int) -> DataFrame:
        """S2 — point fetch by composite doc key; doc_id-sorted Parquet
        makes this a min/max-pruned point lookup."""
        return self.documents().filter(
            (F.col("conv_id") == conv_id) & (F.col("turn_idx") == turn_idx)
        )

    # ------------------------------------------------------------ stats
    def stats(self) -> dict[str, dict]:
        """Per-field corpus stats aggregated over segments, driver-side.
        avgdl = exact-int total_tokens / n_docs (bit-identical to oracle)."""
        if self._stats is None:
            tbl = self._reader.read("stats",
                                    ["field", "total_tokens", "n_docs"])
            tot: dict = {}
            for f, t, n in zip(*(tbl.column(c).to_pylist()
                                 for c in tbl.column_names)):
                t0, n0 = tot.get(f, (0, 0))
                tot[f] = (t0 + t, n0 + n)
            self._stats = {
                f: {"total_tokens": t, "n_docs": n,
                    "avgdl": (t / n) if n else 0.0}
                for f, (t, n) in tot.items()
            }
        return self._stats

    def idf(self, n_docs: int, df: int) -> float:
        return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))

    # ------------------------------------------------------------ search
    def search(
        self,
        query: dict | Query,
        k: int = 10,
        skip: int = 0,
        select: list[str] | None = None,
        term_identity: str = "surface",
    ) -> DataFrame:
        """Boolean BM25 top-k.  Returns a DataFrame ordered by
        (score desc, conv_id asc, turn_idx asc) with the selected doc
        columns + score.  ``term_identity='charbag'`` reproduces Resin's
        anagram-colliding char-bag term identity via chars_key."""
        q = parse_query(query) if isinstance(query, dict) else query
        sel = select or q.select
        if k and term_identity == "surface":
            # driver-scored fast path: when the df mirror already tells
            # us the candidate set is k-row-scale, the whole rank is two
            # tiny jobs (pushed block collect + point fetch) instead of a
            # Python-UDF decode job + broadcast exchange + docs scan
            hits = self._driver_hits(q, k, skip)
            if hits is not None:
                return self._fetch_hits(hits, sel)
        ranked = self._ranked(q, term_identity)
        if k or skip:
            # top-k path: TakeOrderedAndProject.  With k=0 and skip=0
            # ("all", e.g. save_as CTAS) the pre-sort would be a wasted
            # corpus-sized range shuffle — the docs join destroys order
            # and the final orderBy re-sorts anyway
            ranked = ranked.orderBy(F.desc("score"), F.asc("doc_id"))
        if skip:
            ranked = ranked.offset(skip)
        if k:
            ranked = ranked.limit(k)

        if k and (k + skip) <= self._POINT_FETCH_MAX_K \
                and self._docs_bytes() > self._POINT_FETCH_MIN_DOCS_BYTES:
            # big-table small-k path: run the TakeOrderedAndProject NOW
            # (the eager semantics of the reference's Search), then fetch
            # the hit documents like driver hits (_fetch_hits: a doc_id
            # IN (...) point read, min/max row-group pruned on the
            # doc_id-sorted docs table) instead of a broadcast join that
            # streams the whole docs table past k rows.  Gated on docs
            # size: below the threshold the full-scan broadcast join is
            # cheaper than a second Spark action (measured: the extra
            # action costs ~0.3-0.5 s while a <4 GiB local scan costs
            # less); above it the saved scan dominates — at 100 TB this
            # is THE fetch path.
            return self._fetch_hits(
                [(int(r["doc_id"]), float(r["score"]))
                 for r in ranked.collect()], sel)
        return self._join_docs(ranked, k, sel)

    def _join_docs(self, ranked: DataFrame, k: int,
                   sel: list[str] | None) -> DataFrame:
        """The lazy docs join of a ranked (doc_id, score) frame.
        Broadcast only when k bounds the ranked side; k=0 ("all", e.g.
        save_as CTAS) can be corpus-sized — let Spark pick the
        strategy."""
        docs = self.documents()
        right = F.broadcast(ranked) if k else ranked
        return self._project_ranked(docs.join(right, "doc_id"), docs, sel)

    @staticmethod
    def _ranked_cols(columns: list[str], sel: list[str] | None) -> list[str]:
        cols = ["conv_id", "turn_idx"]
        if sel:
            cols += [c for c in sel if c not in ("conv_id", "turn_idx")]
        else:
            cols += [c for c in ("role", "text", "tool", "ts") if c in columns]
        return cols

    def _project_ranked(self, out: DataFrame, docs: DataFrame,
                        sel: list[str] | None) -> DataFrame:
        out = out.select(*self._ranked_cols(docs.columns, sel), "score")
        return out.orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))

    def topk(self, query: dict | Query, k: int = 10, skip: int = 0,
             term_identity: str = "surface") -> list[tuple[tuple[str, int], float]]:
        """Collected form for oracle comparison."""
        rows = self.search(query, k=k, skip=skip,
                           select=["conv_id", "turn_idx"],
                           term_identity=term_identity).collect()
        return [((r["conv_id"], r["turn_idx"]), r["score"]) for r in rows]

    # phrase verify: candidate sets up to this size fetch their text via
    # the pushed doc_id IN point scan; bigger sets verify through a
    # broadcast join against the docs table (one full scan, still only
    # one job — an IN-list of 100k literals would bloat the plan instead)
    _PHRASE_POINT_MAX_CANDIDATES = 4096
    # driver positional verify: max decoded positions (Σ tf over the
    # phrase terms' collected blocks) — ~8 B each, a few hundred MB of
    # transient numpy at the cap; beyond it the text verify runs instead
    _PHRASE_POS_MAX_POSITIONS = 8_000_000

    def phrase_search(self, phrase: str, field: str = "text", k: int = 10,
                      skip: int = 0,
                      select: list[str] | None = None) -> DataFrame:
        """Exact-phrase ranked retrieval (beyond-reference: Resin's
        "phrase queries" — /root/reference/README.md:34 — score a phrase
        as a BAG of terms; SearchSession keeps no positional data, so
        adjacency is never enforced).  Here a doc matches only if the
        phrase's tokens appear consecutively, in order, in the field's
        token stream; matched docs rank by the engine's standard AND
        score (BM25 sum over the phrase's distinct terms), so results
        are search()'s AND ranking restricted to true phrase matches.

        Physical plan (the 100 TB shape): candidates come from the
        boolean AND of the phrase's terms through the standard physical
        strategies (driver-scored, block-pruned intersection, or the
        distributed mask fold) — a doc can only contain the phrase if it
        contains every term — then adjacency is verified ONLY on
        candidate rows: the tokenizer-normalized text (same token stream
        as the index, JVM-side) must contain the space-joined phrase.
        Small candidate sets read their text via the pushed
        ``doc_id IN (...)`` point scan; verify cost ∝ candidates, never
        corpus size.  This is the classic verify-after-intersection
        phrase plan of positionless indexes.

        On a POSITIONAL index (build_index(..., positions=True)) the
        verify never touches text at all: adjacency is checked against
        the varint position gaps stored in the posting blocks — the
        driver-scored path intersects position sets in numpy over the
        candidate blocks (pushed block_id IN scan), and the over-cap
        distributed path reduces (doc, pos - phrase_index) cells with a
        groupBy whose plan contains no docs-table scan (plan-gated).
        Both are rank-identical to the text verify (parity-tested)."""
        from resin_spark.tokenizer import (TOKEN_SEP_JAVA, tokenize_pandas,
                                           tokenize_py)

        toks = tokenize_py(phrase)
        if not toks:
            return self._fetch_hits([], select)
        q = parse_query({"and": {field: phrase}})
        if len(toks) == 1:
            # single-token phrase == single-term query
            return self.search(q, k=k, skip=skip, select=select)
        # the layout off the read backend's schema: on the pyarrow
        # backend no Spark reader is built (after refresh() one would
        # cost a schema-inference job)
        use_pos = "positions_bin" in self._reader.schema("postings").names
        hits = self._driver_hits(q, 0, 0)
        if hits == []:
            return self._fetch_hits([], select)
        if use_pos and hits is not None:
            matched = self._phrase_verify_positions_driver(field, toks, hits)
            if matched is not None:
                page = matched[skip:skip + k] if k else matched[skip:]
                return self._fetch_hits(page, select)
        needle = " " + " ".join(toks) + " "
        if use_pos:
            # over the driver caps (no driver hits, or the positional
            # collect would not be driver-sized): distributed positional
            # verify — still postings-only, no document text read
            match = self._phrase_match_docs_positional(field, toks)
            if match is not None:
                ranked = self._ranked(q, "surface")
                docs = self.documents()
                return self._page_ranked(
                    docs.join(ranked.join(match, "doc_id"), "doc_id"),
                    docs, k, skip, select)
        if (hits is not None
                and len(hits) <= self._PHRASE_POINT_MAX_CANDIDATES):
            # point-sized candidate set: candidate texts via one doc_id
            # IN read, adjacency via the pandas tokenizer twin (tested
            # equal to the JVM token stream).  hits arrive (score desc,
            # doc_id asc) — the ranking order — so the page is a plain
            # slice.  BIGGER driver hit lists fall through to the ranked
            # join below — shipping 100k+ (doc, score) tuples through a
            # driver-local relation measured 28 s at sf0.1 ("banana
            # cantalope": ~180k AND candidates), vs ~1 s for the
            # distributed rescore + one docs scan.
            tbl = self._reader.read("docs", ["doc_id", field],
                                    {"doc_id": [d for d, _ in hits]})
            joined = tokenize_pandas(
                tbl.column(field).to_pandas().fillna("")).map(
                lambda ts: " " + " ".join(ts) + " ")
            ok = set(tbl.column("doc_id").to_numpy()[
                joined.str.contains(needle, regex=False).to_numpy()
            ].tolist())
            matched = [(d, s) for d, s in hits if d in ok]
            page = matched[skip:skip + k] if k else matched[skip:]
            return self._fetch_hits(page, select)
        # tokenizer-normalized field: exactly the token stream the index
        # saw, space-joined and space-delimited so containment can't
        # match across token boundaries
        norm = F.concat(
            F.lit(" "),
            F.array_join(
                F.filter(F.split(F.lower(F.col(field)), TOKEN_SEP_JAVA),
                         lambda x: x != F.lit("")),
                " "),
            F.lit(" "),
        )
        docs = self.documents()
        out = docs.join(self._ranked(q, "surface"), "doc_id").filter(
            F.instr(norm, needle) > 0)
        return self._page_ranked(out, docs, k, skip, select)

    def _page_ranked(self, out: DataFrame, docs: DataFrame, k: int,
                     skip: int, select: list[str] | None) -> DataFrame:
        """Page (skip, k) of ranked docs rows in (score desc, doc_id asc)
        order, projected."""
        out = out.orderBy(F.desc("score"), F.asc("doc_id"))
        if skip:
            out = out.offset(skip)
        if k:
            out = out.limit(k)
        return self._project_ranked(out, docs, select)

    def _phrase_verify_positions_driver(
            self, field: str, toks: list[str],
            hits: list[tuple[int, float]]):
        """Filter driver-computed AND hits to exact phrase matches using
        the positional postings ALONE — the docs table is never read
        (verify cost ∝ candidate postings, not text bytes: the 100 TB
        phrase path).  Collects the phrase terms' blocks restricted to
        the candidates' conv blocks (pushed ``block_id IN`` — same
        pruning as _driver_and_hits), reconstructs per-doc position sets
        (postings.decode_positions), and intersects them in numpy: doc
        matches iff some start p has p+i in positions(toks[i]) for every
        phrase index i — computed as a multiset count over packed
        (dense_doc, pos - i) keys.  Returns surviving hits in ranking
        order; None = the caller falls through to the DISTRIBUTED
        positional verify (_phrase_match_docs_positional) first, with
        the text verify only as the final fallback (mixed-layout
        segments, or a packed-key overflow there too)."""
        import numpy as np

        from resin_spark.postings import (decode_counts, decode_doc_ids,
                                          decode_positions)

        if not hits:
            return []
        m = len(toks)
        cand = np.array(sorted({int(d) for d, _ in hits}), dtype=np.int64)
        blocks = np.unique(np.right_shift(cand, B.BLOCK_SHIFT))
        blist = ([int(b) for b in blocks]
                 if len(blocks) <= self._AND_BLOCK_IN_MAX else None)
        uniq = sorted(set(toks))
        # warm terms come off the positional-occurrence LRU (full-term
        # (drep, pos) arrays — a superset of any block restriction, and
        # the candidate filter below prunes them identically); only LRU
        # misses are read + decoded
        pos_cached: dict[str, tuple] = {}
        miss = []
        for t in uniq:
            got = self._pos_lru.get((field, t))
            if got is not None:
                pos_cached[t] = got
            else:
                miss.append(t)
        per_tok: dict = {}
        total_pos = 0
        if miss:
            where = {"field": field, "term": miss}
            if blist is not None:
                where["block_id"] = blist
            tbl = self._reader.read(
                "postings", ("field", "term", "sum_tf", "doc_ids_bin",
                             "tfs_bin", "positions_bin"), where)
            if tbl.column("positions_bin").null_count:
                return None  # mixed non-positional segment
            per_tok = {t: sub for (_, t), sub in _by_key(tbl).items()}
            total_pos = sum(tbl.column("sum_tf").to_pylist())
        if total_pos > self._PHRASE_POS_MAX_POSITIONS:
            # decoded occurrence volume (Σ tf, i.e. positions, can far
            # exceed Σ df for a hot term in long docs) would not be
            # driver-sized — hand the query to the distributed
            # positional verify.  Cached terms don't count against the
            # cap: their decode cost is already paid and their arrays
            # already live in driver RAM (bounded by the pos LRU budget).
            return None
        dfm = self._term_df_driver_map()
        dec: dict[str, tuple] = {}
        max_pos = 0
        for t in uniq:
            if t in pos_cached:
                drep, pos = pos_cached[t]
            else:
                if t not in per_tok:
                    return []  # phrase token absent from candidate blocks
                dparts, pparts = [], []
                ndocs = 0
                sub = per_tok[t]
                for ib, tb, pb in zip(*(sub.column(c).to_pylist() for c in (
                        "doc_ids_bin", "tfs_bin", "positions_bin"))):
                    tfs = decode_counts(tb)
                    ids = decode_doc_ids(ib)
                    ndocs += len(ids)
                    dparts.append(np.repeat(ids, tfs))
                    pparts.append(decode_positions(pb, tfs))
                drep = np.concatenate(dparts)
                pos = np.concatenate(pparts)
                if dfm is not None and dfm.get((field, t)) == ndocs:
                    # the read covered the term's ENTIRE df (the mirror
                    # df is the same Σ df_block quantity) — cacheable as
                    # a full decode, like the term LRU's rule
                    self._pos_lru.put((field, t), (drep, pos))
            # keep only candidate docs' occurrences (dense index = rank
            # in the sorted candidate array, for compact packed keys)
            j = np.searchsorted(cand, drep)
            ok = (j < len(cand)) & (cand[np.minimum(j, len(cand) - 1)]
                                    == drep)
            dense, pos = j[ok], pos[ok]
            dec[t] = (dense, pos)
            if len(pos):
                max_pos = max(max_pos, int(pos.max()))
        stride = max_pos + m + 2
        if len(cand) * stride > (1 << 62):
            return None  # packed int64 keys would overflow
        key_parts = []
        for i, t in enumerate(toks):
            dense, pos = dec[t]
            sel = pos >= i
            if not sel.any():
                return []
            key_parts.append(dense[sel] * np.int64(stride) + (pos[sel] - i))
        # keys are unique within each part ((doc, pos) unique per term),
        # so a key counted m times is covered by every phrase index
        u, c = np.unique(np.concatenate(key_parts), return_counts=True)
        good = u[c == m]
        if not len(good):
            return []
        matched = set(cand[np.unique(good // stride)].tolist())
        return [(d, s) for d, s in hits if int(d) in matched]

    def _phrase_match_docs_positional(self, field: str,
                                      toks: list[str]):
        """Distinct doc_ids containing the phrase, computed ENTIRELY from
        positional postings — the over-cap distributed phrase verify.
        Decodes the phrase terms' blocks to occurrence rows (pushed
        (field, term) scan), normalizes each occurrence to its implied
        phrase-start cell (pos - phrase_index), and keeps (doc, start)
        cells covered by all m phrase indexes.  The docs table appears
        nowhere in this plan (plan-gated in tests); shuffle size ∝ the
        phrase terms' occurrence counts, never corpus size.  Returns None
        when a matched block lacks positions (mixed segments — caller
        falls back to the text verify)."""
        m = len(toks)
        uniq = sorted(set(toks))
        pred = (F.col("field") == field) & F.col("term").isin(uniq)
        post = self.postings().filter(pred)
        if post.filter(F.col("positions_bin").isNull()).limit(1).count():
            return None
        occ = B.decoded_occurrences(
            post.select("field", "term", "doc_ids_bin", "tfs_bin",
                        "dls_bin", "positions_bin"))
        tok_idx = self.spark.createDataFrame(
            [(t, i) for i, t in enumerate(toks)], "term string, ti int")
        return (
            occ.join(F.broadcast(tok_idx), "term")
            .select("doc_id", (F.col("pos") - F.col("ti")).alias("pa"), "ti")
            .filter(F.col("pa") >= 0)
            .groupBy("doc_id", "pa")
            .agg(F.count_distinct("ti").alias("nt"))
            .filter(F.col("nt") == F.lit(m))
            .select("doc_id")
            .dropDuplicates(["doc_id"])
        )

    # ------------------------------------------------------------ internals
    def _key_col(self, term_identity: str) -> str:
        return "term" if term_identity == "surface" else "chars_key"

    # driver-scored path bounds: its numpy class mask is int64 (one bit
    # per unique (field, term) key), and its per-class scoring loop is
    # bounded in class count.  The distributed fold has neither limit.
    _MASK_MAX_KEYS = 63
    _MASK_MAX_CLASSES = 4096
    # search(): up to this many hits fetch via eager top-k + pushed-down
    # doc_id IN point scan (beyond it, the lazy broadcast-join path) —
    # but only when the docs table is big enough that skipping its full
    # scan beats one extra Spark action
    _POINT_FETCH_MAX_K = 1024
    _POINT_FETCH_MIN_DOCS_BYTES = 4 << 30

    # driver-scored fast path: total candidate postings (Σ df over the
    # query's terms, known BEFORE any job from the driver term-df mirror)
    # up to which decode + boolean fold + BM25 run on the driver over the
    # collected block binaries.  Everything after the collect is
    # vectorized numpy over O(Σdf) memory (~24 B/posting decoded, a few
    # B/posting on the wire), so the cap is a driver-RAM/collect-size
    # bound, not a compute bound: 2M postings ≈ 50 MB decoded, ~100 ms.
    # Above the cap or without the mirror (100 TB vocabularies) the
    # distributed path runs unchanged, so this is latency sugar for the
    # bounded-candidate case, exactly the reference's embedded in-RAM
    # read session (SessionFactory caches ColumnReaders; ReadSession
    # scores driver-side) — re-expressed as a size-gated physical
    # strategy.
    _DRIVER_SCORE_MAX_POSTINGS = 2_000_000

    def _driver_hits(self, q: Query, k: int,
                     skip: int) -> list[tuple[int, float]] | None:
        """Top-(skip+k) (doc_id, score) computed driver-side, or None when
        the query is not eligible (no df mirror / too many candidates /
        too many keys).  Semantics and float64 op tree are EXACTLY the
        mask fold's: _mask_reduce over exact observed mask classes, score
        = left-associative Σ of per-key BM25 weights in S[mask] order; the
        differential fuzz suite runs this strategy against the others."""
        dfm = self._term_df_driver_map()
        if dfm is None:
            return None
        terms = query_terms(q)
        if not terms:
            return []
        by_field: dict[str, set[str]] = {}
        for t in terms:
            by_field.setdefault(t.field, set()).add(t.token)
        keys = sorted((f, tok) for f, toks in by_field.items() for tok in toks)
        if len(keys) > self._MASK_MAX_KEYS:
            return None
        idx = {key: i for i, key in enumerate(keys)}
        df_by_key = [dfm.get(key, 0) for key in keys]
        if self._DRIVER_SCORE_MAX_POSTINGS < 0:
            return None  # driver scoring disabled (the test/strategy hook)
        # warm-repeat fast path: when every queried key is already in the
        # decoded-postings LRU AND the query fits the driver-scored cap,
        # the in-memory mask fold below beats any block-max re-read (no
        # stats scan, no block fetch) — so repeat queries skip the
        # block-max branches.  Over-cap hot terms still take block-max
        # (the LRU never holds them: partial decodes are not cacheable),
        # where the stats LRU covers the repeat cost instead.
        # Forced-route strategy fixtures keep block-max engaged on repeat
        # queries by giving the term LRU a zero budget.
        lru_warm = (sum(df_by_key) <= self._DRIVER_SCORE_MAX_POSTINGS
                    and all(not df_by_key[i]
                            or self._term_lru.get(keys[i]) is not None
                            for i in range(len(keys))))
        # a SIMPLE flat NOT clause (op "not", no nesting) rides the
        # block-max paths for free: NOT is the LAST fold step
        # (and → or → not, Reducer.cs:72-83), subtracts the UNION of its
        # terms' postings and contributes no score — so negative terms
        # decode ONLY inside candidate blocks and the positive bounds
        # stay true upper bounds.  negs None = NOT shape ineligible.
        negs: "list[tuple[str, str]] | None" = None
        if q.and_q is None and q.or_q is None:
            if q.not_q is None:
                negs = []
            elif self._flat_not(q.not_q):
                negs = [(t.field, t.token) for t in q.not_q.terms]
        # a lone term with no clause is a flat OR of itself (its own
        # anchor), whichever op it carries, behind the lower single-term
        # gate (see _BLOCKMAX_MIN_POSTINGS)
        lone = len(q.terms) == 1 and q.or_q is None and q.not_q is None
        if (not lru_warm and k and q.terms and q.op in ("and", "or")
                and q.and_q is None
                and sum(df_by_key) > (self._BLOCKMAX_MIN_POSTINGS if lone
                                      else self._BLOCKMAX_FLAT_MIN_POSTINGS)):
            # flat OR (+ or_q chain): Resin's order-sensitive OR
            # (Reducer.cs:86-149) admits docs only from the FIRST
            # matched term — the OR merge adopts the incoming dict ONLY
            # on an empty accumulator and is boost-only otherwise — so
            # the candidate set is anchor-postings-sized and the
            # block-max decode applies (see _driver_flat_blockmax): read
            # block STATS only, then decode blocks in upper-bound order
            # until the k-th score beats every unread block's bound.  At
            # 10^12 turns a stopword's top-10 stops being a full postings
            # decode: bytes read ∝ the few bound-competitive blocks.
            #
            # An or_q CHAIN flattens exactly when every chain clause
            # carries at most ONE matched term: such a clause's result
            # IS that term's postings dict, and its merge boosts
            # accumulator docs by the term's weight — identical to a
            # flat "or" term (with an empty accumulator it ADMITS, i.e.
            # becomes the anchor, which the flat fold also models).  A
            # clause with 2+ matched terms does NOT flatten: its
            # internal anchor restricts the clause's boosts to its own
            # postings.  Flat NOTs on chain nodes all merge AFTER every
            # boost (the fold order is terms → and_q → or_q → not_q and
            # deeper clauses are or_q SUBTREES of shallower nodes), so
            # they union into one trailing subtraction.
            matched = [t for t in q.terms
                       if dfm.get((t.field, t.token), 0) > 0]
            cnegs: "list[tuple[str, str]] | None" = []
            if q.not_q is not None:
                cnegs = ([(t.field, t.token) for t in q.not_q.terms]
                         if self._flat_not(q.not_q) else None)
            node = q.or_q
            while cnegs is not None and node is not None:
                nm = [t for t in node.terms
                      if dfm.get((t.field, t.token), 0) > 0]
                if (node.op != "or" or node.and_q is not None
                        or len(nm) > 1
                        or (node.not_q is not None
                            and not self._flat_not(node.not_q))):
                    cnegs = None
                    break
                matched.extend(nm)
                if node.not_q is not None:
                    cnegs.extend((t.field, t.token)
                                 for t in node.not_q.terms)
                node = node.or_q
            n_top = len([t for t in q.terms
                         if dfm.get((t.field, t.token), 0) > 0])
            if (cnegs is not None and matched
                    and all(t.op == "or" for t in matched[1:n_top])
                    and (lone or len(matched) >= 2 or cnegs
                         or q.or_q is not None)):
                # ONE matched term takes this route when it is the whole
                # query (lone), carries a flat NOT or sits in an or_q
                # chain; one matched term among unmatched top-level
                # terms stays off it
                hits = self._driver_flat_blockmax(matched, dfm, k, skip,
                                                  "or", cnegs)
                if hits is not None:
                    return hits
        if sum(df_by_key) > self._DRIVER_SCORE_MAX_POSTINGS:
            hits = self._driver_and_hits(q, keys, idx, df_by_key, k, skip)
            if hits is None and k and (self._pure_and(q)
                                       or (negs and q.op == "and")):
                # hot AND (optionally + flat NOT): every matched term
                # over the seed cap (or the seed's pruned collect
                # overflowed) — the intersection's candidate blocks
                # still bound-order-decode like the OR.  Flattening the
                # and_q clause chain is exact ONLY when every clause has
                # >=1 MATCHED term: unmatched terms are skipped WITHIN a
                # clause, but a sub-clause whose whole dict comes up
                # empty (zero tokens, or all terms unmatched) merges an
                # EMPTY dict under AND, which CLEARS the accumulator —
                # that rule belongs to the distributed fold
                # (x_empty_tokens_and / x_unmatched_subclause)
                clauses, qq = [], q
                while qq is not None:
                    clauses.append(
                        [t for t in qq.terms
                         if dfm.get((t.field, t.token), 0) > 0])
                    qq = qq.and_q
                if all(clauses):
                    hits = self._driver_flat_blockmax(
                        [t for c in clauses for t in c], dfm, k, skip,
                        "and", negs or [])
            return hits
        self._evict_persisted()
        if not any(df_by_key):
            return []
        import numpy as np

        empty64 = np.empty(0, dtype=np.int64)
        # warm terms come straight off the decoded-postings LRU; only
        # cache misses (with df > 0) are read
        cached: dict[int, tuple] = {}
        miss_by_field: dict[str, set[str]] = {}
        for key, i in idx.items():
            if not df_by_key[i]:
                continue
            got = self._term_lru.get(key)
            if got is not None:
                cached[i] = got
            else:
                miss_by_field.setdefault(key[0], set()).add(key[1])
        got: dict = {}
        if miss_by_field:
            got = _by_key(self._reader.read(
                "postings",
                ("field", "term", "doc_ids_bin", "tfs_bin", "dls_bin"),
                [{"field": f, "term": toks}
                 for f, toks in sorted(miss_by_field.items())]))
        # per-key sorted-unique (doc_id, tf, dl) arrays, the mask agg's
        # (sum tf, max dl).  All O(Σdf), no nkeys×ndocs dense state.
        uid_k, tf_k, dl_k = [], [], []
        for i, key in enumerate(keys):
            if i in cached:
                uid, tf, dl = cached[i]
            elif key not in got:
                uid, tf, dl = empty64, empty64, empty64
            else:
                uid, tf, dl = _decode_merged(got[key])
                self._term_lru.put(key, (uid, tf, dl))
            uid_k.append(uid)
            tf_k.append(tf)
            dl_k.append(dl)
        uids = np.unique(np.concatenate(uid_k)) if any(
            len(u) for u in uid_k) else empty64
        if not len(uids):
            return []
        mask_arr = np.zeros(len(uids), dtype=np.int64)
        for i, uid in enumerate(uid_k):
            if len(uid):
                mask_arr[np.searchsorted(uids, uid)] |= np.int64(1 << i)
        mvals, mcounts = np.unique(mask_arr, return_counts=True)
        if len(mvals) > self._MASK_MAX_CLASSES:
            return None
        observed = {int(m): int(c) for m, c in zip(mvals, mcounts)}
        return self._score_mask_classes(q, observed, uids, mask_arr,
                                        uid_k, tf_k, dl_k, idx, df_by_key,
                                        k, skip)

    # hot single-term gate of the block-max decode (_driver_flat_blockmax
    # with the term as its own anchor).  Below it the standard
    # decode-once path is cheaper END TO END — its cost is one pushed
    # scan plus a decode bounded by df itself (corpus-size-independent),
    # while block-max pays a stats read plus several chunked scans whose
    # per-scan fixed cost grows with the dataset (measured at the 6M
    # tier: a 360k-df term took 1.45 s cold / 1.54 s warm via 14-block
    # block-max vs 0.66 / 0.34 s standard, while the 1.8M-df hot term
    # took 0.44 s via 2-block block-max vs 1.95 s standard — pruning must
    # be strong for block-max to win, and a lone term needs high df for
    # its bound variance to prune hard).
    _BLOCKMAX_MIN_POSTINGS = 500_000
    # chunk growth 2 -> 4 -> 8 -> ... -> cap: top-k usually terminates
    # within the first chunks (one block holds thousands of postings), so
    # starting small maximizes pruning; doubling keeps the worst case at
    # O(log) fetches more than a single scan
    _BLOCKMAX_CHUNK_START = 2
    _BLOCKMAX_CHUNK_MAX = 64
    # once this many blocks decoded without terminating, the bounds are
    # not pruning this query — switch from doubled chunks to slab-sized
    # fetches (each chunk fetch is a fresh dataset scan whose fixed cost
    # dominates at corpus scale; a no-prune shape pays ~4 scans instead
    # of ~8).  The slab stays finite so one chunk's decode volume stays
    # driver-RAM-bounded ahead of the _BLOCKMAX_DECODE_MAX check.
    _BLOCKMAX_BULK_AFTER = 30
    _BLOCKMAX_BULK_SLAB = 256
    # flat (multi-term / NOT) block-max gate: engage only ABOVE the
    # driver-scored cap, where the alternative is the distributed fold.
    # Measured (BENCH.md round 5): for Σdf under the cap the standard
    # decode-once path wins BOTH cold (one pushed scan per miss vs
    # several chunked scans — the per-scan fixed cost dominates decode
    # volume at driver sizes) and warm (term LRU in-memory fold).  The
    # single-term gate stays low (_BLOCKMAX_MIN_POSTINGS): a lone hot
    # term's bound variance makes its pruning reliably strong (measured
    # 2/226 blocks at the 6M tier vs a 1.95 s full decode)
    _BLOCKMAX_FLAT_MIN_POSTINGS = 2_000_000
    # driver bound on the STATS read (3 int64 columns): ~24 B/row.  A
    # term spanning more blocks than this (a stopword at ~10^11+ turns)
    # falls back to the distributed fold / WAND path
    _BLOCKMAX_MAX_STAT_ROWS = 8_000_000
    # decoded-occurrence bail for the block-max decodes: degenerate
    # bounds (every block tied at the global max) mean no early
    # termination, so stop decoding at the same driver-RAM volume the
    # full-decode path allows and fall back to the standard strategies.
    # Deliberately its OWN constant: _DRIVER_SCORE_MAX_POSTINGS is a
    # path-gating knob (tests/strategies set it to 0 to force routes)
    # and must not also zero the bail
    _BLOCKMAX_DECODE_MAX = 2_000_000

    # bound on the merged bound arrays held by the stats LRU (~24 B per
    # block row); block counts are postings/BLOCK-sized, so this holds
    # thousands of hot terms
    _STATS_LRU_MAX_BLOCKS = 2_000_000

    def _block_stats(self, key: tuple[str, str]):
        """Merged per-block bound inputs for one (field, term):
        ``(bids, ub_tf, ub_dl, raw_rows)`` — block ids ASC, per-block tf
        upper bound (sum of segment-row max_tf: a doc's merged tf is the
        sum over segments), per-block dl lower bound (min of min_dl),
        and the raw pre-merge stat row count (the
        _BLOCKMAX_MAX_STAT_ROWS budget is on raw rows).  ``None`` when
        the raw rows alone bust that budget.  LRU-cached per engine —
        the engine pins a snapshot, so entries can never go stale, and
        clear_cache() drops them so benchmark cold trials stay cold.
        The block-max twin of the decoded-postings term LRU (both
        re-express the reference's per-session cached ColumnReaders,
        SessionFactory.cs:396-403)."""
        if key in self._stats_lru:
            return self._stats_lru.get(key)
        self.stats_lru_misses += 1
        import numpy as np

        tbl = self._reader.read("postings", ["block_id", "max_tf", "min_dl"],
                                {"field": key[0], "term": key[1]})
        raw = tbl.num_rows
        if raw > self._BLOCKMAX_MAX_STAT_ROWS:
            res = None
        else:
            bids, inv = np.unique(tbl.column("block_id").to_numpy(),
                                  return_inverse=True)
            ub_tf = np.zeros(len(bids), dtype=np.int64)
            np.add.at(ub_tf, inv, tbl.column("max_tf").to_numpy())
            ub_dl = np.full(len(bids), np.iinfo(np.int64).max,
                            dtype=np.int64)
            np.minimum.at(ub_dl, inv, tbl.column("min_dl").to_numpy())
            res = (bids, ub_tf, ub_dl, raw)
        self._stats_lru.put(key, res)
        return res

    def _driver_flat_blockmax(
            self, matched: list, dfm: dict, k: int, skip: int,
            mode: str = "or",
            negs: "list[tuple[str, str]] | None" = None,
    ) -> "list[tuple[int, float]] | None":
        """Flat-OR / flat-AND top-k with block-max early termination
        (the 100 TB hot-term and multi-term paths).  A single term is a
        flat OR with itself as the anchor.

        Each posting block carries (max_tf, min_dl) stats (build.py)
        that bound the best BM25 score any of its docs can reach: the
        score is monotone up in tf and down in dl, and float64 rounding
        is monotone, so the bound evaluated with the scorer's op tree is
        a true upper bound.  This is the Block-Max WAND bound of wand.py
        applied to the embedded driver path.

        OR: Resin's OR merge is order-sensitive (Reducer.cs:86-149) —
        docs enter the result ONLY from the first matched term; later OR
        terms boost scores of docs already present.  The candidate set
        is therefore the ANCHOR term's postings.  AND: the candidate
        set is the intersection, which lives only in blocks containing
        EVERY matched term.  In both modes, because a posting block is a
        doc_id RANGE (block_id = doc_id >> BLOCK_SHIFT, build.py) every
        term's contribution to a candidate lives in the SAME block —
        decoding a candidate block with all terms restricted to its
        block_id yields each doc's EXACT final score, so Block-Max WAND
        degenerates to ordered block decode with no pivot bookkeeping.

        Exactness of the bound: the scorer folds per-term weights
        left-associatively in matched-term order, skipping terms a doc
        lacks (_score_mask_classes S[mask] order, a subsequence of term
        order).  The block bound is the SAME float64 fold fed per-term
        (max_tf, min_dl) bound weights: IEEE rounding is monotone, so a
        fold of bounds >= a fold of true weights in the same order, and
        skipping a (non-negative) term only lowers the doc's fold.

        Termination: blocks decode in (bound desc, block_id asc) order,
        in chunks that double from _BLOCKMAX_CHUNK_START, and iteration
        stops once the running k-th hit beats every unread block's
        bound.  Ties terminate too: block_id is monotone in doc_id
        (build.py), so once the k-th hit's score EQUALS the next bound
        and the next block's doc range lies past the k-th doc_id, no
        unread doc can displace it under the (score desc, doc_id asc)
        final order.  Returns None (the standard strategies run) when
        termination has not happened by _BLOCKMAX_DECODE_MAX decoded
        postings — degenerate bounds that do not prune.

        AND additionally inherits the Reducer empty-accumulator quirk
        guard of _driver_and_hits: a NONEMPTY candidate set proves every
        fold prefix was nonempty (prefixes contain the final
        intersection), so the full-mask class is the only output class;
        if NO candidate survives, this returns None and the distributed
        fold decides (an emptied prefix would re-insert the next term's
        postings there).

        ``negs`` (a simple flat NOT clause's keys) subtracts the UNION
        of those terms' postings from the candidates BEFORE they enter
        the top-k — exact because NOT is the last fold step
        (Reducer.cs:72-83), removal contributes no score, and removing
        docs can only shrink the candidate set (the k-th-hit stop rule
        stays a true certificate).  Negative postings decode ONLY
        within candidate blocks, so at 10^12 turns "rare NOT stopword"
        reads the stopword's postings for the rare term's few blocks,
        never its full list.

        At 10^12 turns an OR anchored on a rare term reads only the
        anchor's conv blocks (the OR twin of the AND block pruning
        below); an OR or AND of stopwords reads O(k) bound-competitive
        blocks instead of every term's full postings — the hot-AND case
        the seed-capped pruned path refuses."""
        import numpy as np

        from resin_spark import postings as P
        from resin_spark.build import BLOCK_SHIFT

        if self._reader.name != "pyarrow":
            # chunked block reads are driver-local scans; through Spark
            # each would be a job, so the standard strategies run
            return None
        keys = [(t.field, t.token) for t in matched]
        anchor = keys[0]
        stats = self.stats()
        idf_of, avgdl_of = {}, {}
        for key in set(keys):
            st = stats.get(key[0])
            if st is None or not st["n_docs"]:
                return None  # df > 0 but no field stats: inconsistent
            idf_of[key] = self.idf(st["n_docs"], dfm[key])
            avgdl_of[key] = st["avgdl"]
        self._evict_persisted()
        # negative keys: unmatched terms are skipped (Reducer.cs:88-89);
        # matched ones decode per-chunk, restricted to candidate blocks
        negs = [kk for kk in (negs or []) if dfm.get(kk, 0) > 0]
        by_field: dict[str, set] = {}
        for f, tok in keys + negs:
            by_field.setdefault(f, set()).add(tok)
        pos_keys = set(keys)
        neg_keys = set(negs)
        # per-key per-block bound inputs (merged over segment rows: tf
        # sums, dl mins — _block_stats); one
        # pushed stats read per key (LRU-cached, _block_stats) keeps the
        # columns numeric (no 8M-row string materialization)
        one_minus_b = 1.0 - BB
        per_key: dict[tuple, tuple] = {}
        stat_rows = 0
        for key in set(keys):
            got = self._block_stats(key)
            if got is None:
                return None
            bids_k, ub_tf, ub_dl, raw = got
            stat_rows += raw
            if stat_rows > self._BLOCKMAX_MAX_STAT_ROWS:
                return None
            w = idf_of[key] * (ub_tf / (ub_tf + K1 * (
                one_minus_b + BB * ub_dl / avgdl_of[key])))
            per_key[key] = (bids_k, w)
        if mode == "and":
            # candidate blocks: intersection — a block missing any
            # matched term can't produce a conjunctive match
            bids = per_key[anchor][0]
            for key in set(keys[1:]):
                bids = bids[np.isin(bids, per_key[key][0],
                                    assume_unique=True)]
            if not len(bids):
                return None  # empty => Reducer quirk territory
        else:
            bids = per_key[anchor][0]
            if not len(bids):
                return []
        # bound = the scorer's left-assoc fold in matched-term order over
        # per-term block bounds, skipping blocks a term lacks
        anchor_j = np.searchsorted(per_key[anchor][0], bids)
        bound = per_key[anchor][1][anchor_j].copy()
        for key in keys[1:]:
            kb, kw = per_key[key]
            if not len(kb):
                continue
            j = np.searchsorted(kb, bids)
            ok = (j < len(kb)) & (kb[np.minimum(j, len(kb) - 1)] == bids)
            bound[ok] = bound[ok] + kw[j[ok]]
        order = np.lexsort((bids, -bound))
        need = skip + k
        cand_ids = np.empty(0, dtype=np.int64)
        cand_scores = np.empty(0, dtype=np.float64)
        decoded = 0
        scanned_blocks = 0
        pos_any = False
        pos = 0
        chunk_n = self._BLOCKMAX_CHUNK_START
        cols = ("field", "term", "df_block", "doc_ids_bin", "tfs_bin",
                "dls_bin")
        full_by_key: dict[tuple, list] = {}  # per-key decoded chunks
        while pos < len(order):
            chunk = order[pos:pos + chunk_n]
            pos += len(chunk)
            chunk_n = min(chunk_n * 2, self._BLOCKMAX_CHUNK_MAX)
            scanned_blocks += len(chunk)
            chunk_bids = [int(bids[c]) for c in chunk]
            # ONE pushed scan per chunk covers positive AND negative
            # keys (the filter is the union; rows split by key below) —
            # a NOT clause must not double the per-chunk scan count
            got = _by_key(self._reader.read("postings", cols, [
                {"field": f, "term": toks, "block_id": chunk_bids}
                for f, toks in sorted(by_field.items())]))
            dfs = {key: sum(sub.column("df_block").to_pylist())
                   for key, sub in got.items()}
            decoded += (sum(n for key, n in dfs.items() if key in pos_keys)
                        + sum(n for key, n in dfs.items() if key in neg_keys))
            nbins = [b for key, sub in got.items() if key in neg_keys
                     for b in sub.column("doc_ids_bin").to_pylist()]
            neg_union = (np.unique(np.concatenate(
                [P.decode_doc_ids(b) for b in nbins])) if nbins else None)
            dec: dict[tuple, tuple] = {}
            for key, sub in got.items():
                if key not in pos_keys:
                    continue
                uid, tf, dl = _decode_merged(sub)
                w = idf_of[key] * (tf / (tf + K1 * (
                    one_minus_b + BB * dl / avgdl_of[key])))
                dec[key] = (uid, w)
                full_by_key.setdefault(key, []).append((uid, tf, dl))
            if anchor in dec:
                uid_a = dec[anchor][0]
                if mode == "and":
                    # chunk candidates: docs present in EVERY key
                    for key in set(keys[1:]):
                        got = dec.get(key)
                        if got is None:
                            uid_a = uid_a[:0]
                            break
                        uid_a = uid_a[np.isin(uid_a, got[0],
                                              assume_unique=True)]
                if len(uid_a):
                    # pre-NOT: a nonempty positive candidate set proves
                    # every AND fold prefix was nonempty (see below)
                    pos_any = True
                if neg_union is not None and len(uid_a):
                    uid_a = uid_a[~np.isin(uid_a, neg_union,
                                           assume_unique=True)]
                if len(uid_a):
                    j0 = np.searchsorted(dec[anchor][0], uid_a)
                    score = dec[anchor][1][j0].copy()
                    for key in keys[1:]:
                        got = dec.get(key)
                        if got is None:
                            continue
                        uid_t, w_t = got
                        j = np.searchsorted(uid_t, uid_a)
                        ok = (j < len(uid_t)) & (
                            uid_t[np.minimum(j, len(uid_t) - 1)] == uid_a)
                        score[ok] = score[ok] + w_t[j[ok]]
                    cand_ids = np.concatenate([cand_ids, uid_a])
                    cand_scores = np.concatenate([cand_scores, score])
            if len(cand_ids) >= need:
                top = np.lexsort((cand_ids, -cand_scores))[:need]
                cand_ids, cand_scores = cand_ids[top], cand_scores[top]
                kth_score = float(cand_scores[-1])
                kth_doc = int(cand_ids[-1])
                if pos >= len(order):
                    break
                nxt = order[pos]
                nxt_ub = float(bound[nxt])
                if nxt_ub < kth_score:
                    break
                if (nxt_ub == kth_score
                        and int(bids[nxt]) > (kth_doc >> BLOCK_SHIFT)):
                    break
            if decoded > self._BLOCKMAX_DECODE_MAX:
                return None  # degenerate bounds: no early termination
            if scanned_blocks >= self._BLOCKMAX_BULK_AFTER:
                # the bounds aren't pruning — each chunk fetch re-scans
                # the dataset, so stop doubling and take the rest in
                # slab-sized fetches (one or two more scans instead of
                # log2 more); the stop test and decode bail still apply
                chunk_n = self._BLOCKMAX_BULK_SLAB
        if mode == "and" and not len(cand_ids) and not pos_any:
            # empty POSITIVE intersection: a fold prefix may have been
            # empty, and an empty accumulator re-inserts the next term's
            # postings (Reducer.cs:24-39) — the distributed fold decides.
            # pos_any (a nonempty pre-NOT candidate set somewhere) proves
            # every prefix was nonempty, so if NOT then emptied it the
            # true result IS empty and falls through to the final take
            return None
        if scanned_blocks == len(order):
            # every candidate block decoded: any key whose OWN block set
            # lies inside the candidate set got a FULL decode: its merged
            # arrays are exactly what the standard path would produce
            # (blocks partition the doc space, so cross-chunk docs are
            # disjoint and a sort completes the merge) — cache those in
            # the term LRU so the repeat query can take the lru_warm
            # fast path.  Keys with
            # blocks outside the candidate set (an OR boost term wider
            # than its anchor, an AND term wider than the intersection)
            # stay uncached: partial decodes never enter the LRU.
            for key, chunks in full_by_key.items():
                kb = per_key[key][0]
                if len(kb) and np.isin(kb, bids,
                                       assume_unique=True).all():
                    uid_f = np.concatenate([c[0] for c in chunks])
                    srt = np.argsort(uid_f, kind="stable")
                    self._term_lru.put(key, (
                        uid_f[srt],
                        np.concatenate([c[1] for c in chunks])[srt],
                        np.concatenate([c[2] for c in chunks])[srt],
                    ))
        self.last_blockmax_stats = {
            "blocks_total": int(len(bids)),
            "blocks_scored": int(scanned_blocks),
            "postings_decoded": int(decoded),
        }
        top = np.lexsort((cand_ids, -cand_scores))[skip:need]
        return [(int(cand_ids[t]), float(cand_scores[t])) for t in top]

    # AND-driven block pruning (the 100 TB intersection path): for a
    # pure-AND query whose RAREST matched term is driver-sized, the
    # result set lives inside that term's conv blocks — so the bigger
    # terms scan with a pushed-down ``block_id IN (...)`` predicate
    # (block_id is a physical postings column, build.py) and only the
    # intersecting blocks cross the wire.  At 10^12 turns an AND of a
    # rare term against a stopword-class term stops being a full scan of
    # the stopword's postings: bytes read ∝ the rare term's block
    # footprint.  This is the posting-list skip-intersection of classic
    # IR engines (and of WAND's block skips, wand.py) expressed as
    # Parquet predicate pushdown.  Caps: seed term <= _AND_SEED_MAX
    # postings, <= _AND_BLOCK_IN_MAX candidate blocks (IN-list size),
    # and a post-collect bail if a pruned scan still returned more than
    # _AND_COLLECT_MAX postings (correct either way — it just falls back
    # to the distributed fold).
    _AND_SEED_MAX_POSTINGS = 500_000
    _AND_BLOCK_IN_MAX = 8192
    _AND_COLLECT_MAX_POSTINGS = 4_000_000

    @staticmethod
    def _flat_not(nq: Query) -> bool:
        """A clause-only NOT node (op 'not', no sub-clauses): the shape
        whose terms form one subtractable postings union."""
        return (nq.op == "not" and nq.and_q is None and nq.or_q is None
                and nq.not_q is None)

    def _pure_and(self, q: Query) -> bool:
        if q.op != "and" or q.or_q is not None or q.not_q is not None:
            return False
        if any(t.op != "and" for t in q.terms):
            return False
        return q.and_q is None or self._pure_and(q.and_q)

    def _collect_key_postings(self, key: tuple[str, str],
                              blocks: "list[int] | None",
                              total_df: int | None = None):
        """Collected + decoded (sorted-unique doc_ids, tf, dl) arrays of
        one (field, term) key, optionally restricted to candidate blocks
        (pushed predicate).  None when the collect exceeds the driver
        cap (caller falls back to the distributed fold).

        The term LRU serves RESTRICTED requests too: the cached full-term
        arrays are a superset of any block-restricted read, and a superset
        is fold-identical — the caller's intersection prunes against it,
        and _score_mask_classes' searchsorted lands on the same rows.  So
        a warm repeat of an over-cap AND (the q_multifield bench shape:
        hot dimension term × mid-df seed) skips the dominant re-read +
        re-decode entirely.  Any cached entry is within the LRU's own
        4M-posting bound == _AND_COLLECT_MAX_POSTINGS, so the cap check
        is not bypassed."""
        import numpy as np

        f, tok = key
        got = self._term_lru.get(key)
        if got is not None:
            # NOTE: on an lru_hit, postings_collected is the CACHED
            # full-term unique-doc count (nothing was read), not what a
            # restricted read would have collected — pruning diagnostics
            # are only meaningful on rows without the lru_hit flag
            self.last_and_stats[key] = {
                "blocks_filter": None if blocks is None else len(blocks),
                "postings_collected": int(len(got[0])),
                "lru_hit": True,
            }
            return got
        where = {"field": f, "term": tok}
        if blocks is not None:
            where["block_id"] = blocks
        tbl = self._reader.read(
            "postings", ("df_block", "doc_ids_bin", "tfs_bin", "dls_bin"),
            where)
        n_postings = sum(tbl.column("df_block").to_pylist())
        self.last_and_stats[key] = {
            "blocks_filter": None if blocks is None else len(blocks),
            "postings_collected": int(n_postings),
        }
        if n_postings > self._AND_COLLECT_MAX_POSTINGS:
            return None
        if not tbl.num_rows:
            e = np.empty(0, dtype=np.int64)
            return e, e, e
        uid, tf, dl = _decode_merged(tbl)
        if blocks is None or (total_df is not None
                              and n_postings == total_df):
            # full-term reads are cacheable — including a RESTRICTED read
            # that returned the term's entire df (the candidate blocks
            # covered every posting: n_postings and the mirror's df are
            # the same Σ df_block quantity, so equality is exact).  A
            # genuinely partial collect stays uncached: it is specific to
            # one query's intersection.
            self._term_lru.put(key, (uid, tf, dl))
        return uid, tf, dl

    def _driver_and_hits(self, q: Query, keys: list, idx: dict,
                         df_by_key: list, k: int,
                         skip: int) -> "list[tuple[int, float]] | None":
        """Driver-scored pure-AND with block-pruned scans: keys collect in
        ascending-df order; after each, the intersection's block set
        prunes the next key's scan.  Scores run through the SAME mask
        fold + float64 op tree as every other strategy.  Output classes:
        a NONEMPTY final intersection proves the fold never hit the
        empty-accumulator re-insert quirk, so the full-mask class is the
        only output class; an emptied intersection falls back to the
        distributed fold (see inline note)."""
        import numpy as np

        from resin_spark import build as B

        if not self._pure_and(q):
            return None
        present = [i for i, d in enumerate(df_by_key) if d > 0]
        if not present:
            return []
        order = sorted(present, key=lambda i: (df_by_key[i], i))
        if df_by_key[order[0]] > self._AND_SEED_MAX_POSTINGS:
            return None
        self._evict_persisted()
        # pruning observability: per-key {blocks_filter, postings_collected}
        # vs the mirror df — read after a query to see what the block
        # restriction saved (the skip-intersection analog of
        # neardup_bucket_stats)
        self.last_and_stats = {}
        arrs: dict[int, tuple] = {}
        inter = None
        blocks: list[int] | None = None
        for pos, i in enumerate(order):
            got = self._collect_key_postings(keys[i], blocks,
                                             total_df=df_by_key[i])
            if got is None:
                return None
            arrs[i] = got
            uid = got[0]
            if pos == 0:
                inter = uid
            elif len(uid) == 0:
                inter = uid
            else:
                # both sides sorted-unique: searchsorted membership beats
                # np.isin (which re-sorts the pair on every step)
                j = np.minimum(np.searchsorted(uid, inter), len(uid) - 1)
                inter = inter[uid[j] == inter]
            if not len(inter):
                # Reducer quirk (Reducer.cs:24-39): a term merged into an
                # EMPTY accumulator re-inserts all its postings, so an
                # emptied intermediate intersection can restart the fold
                # with docs this path never collected.  Conversely, a
                # NONEMPTY final intersection proves every fold-order
                # prefix was nonempty (prefixes contain the final set),
                # i.e. no restart occurred and the full-mask class is the
                # only output class.  Empty here -> distributed fold.
                return None
            if pos + 1 < len(order):
                cand = np.unique(np.right_shift(inter, B.BLOCK_SHIFT))
                if len(cand) > self._AND_BLOCK_IN_MAX:
                    return None
                blocks = [int(b) for b in cand]
        full_mask = 0
        for i in present:
            full_mask |= 1 << i
        empty64 = np.empty(0, dtype=np.int64)
        uid_k = [arrs[i][0] if i in arrs else empty64 for i in range(len(keys))]
        tf_k = [arrs[i][1] if i in arrs else empty64 for i in range(len(keys))]
        dl_k = [arrs[i][2] if i in arrs else empty64 for i in range(len(keys))]
        mask_arr = np.full(len(inter), full_mask, dtype=np.int64)
        observed = {int(full_mask): int(len(inter))}
        return self._score_mask_classes(q, observed, inter, mask_arr,
                                        uid_k, tf_k, dl_k, idx, df_by_key,
                                        k, skip)

    def _score_mask_classes(self, q: Query, observed: dict, uids, mask_arr,
                            uid_k, tf_k, dl_k, idx: dict, df_by_key: list,
                            k: int, skip: int) -> list[tuple[int, float]] | None:
        """Shared driver-side scoring: run the mask fold over the observed
        classes, then per class the BM25 weight sum left-associatively in
        S[mask] order over float64 vectors — the exact op tree of the
        distributed mask fold, just elementwise over the class at once."""
        import numpy as np

        state = self._mask_reduce(q, None, observed, df_by_key, idx,
                                  "surface")
        if state is None or not state[0]:
            return []
        masks, S = state
        stats = self.stats()
        empty = {"n_docs": 0, "avgdl": 1.0}
        idf_of, avgdl_of = {}, {}
        for (f, tok), i in idx.items():
            if not df_by_key[i]:
                continue
            st = stats.get(f, empty)
            idf_of[i] = self.idf(st["n_docs"], df_by_key[i])
            avgdl_of[i] = st["avgdl"] if st["n_docs"] else 1.0
        one_minus_b = 1.0 - BB
        did_parts, score_parts = [], []
        for m in masks:
            if m not in observed:
                continue
            sel = np.flatnonzero(mask_arr == m)
            dids = uids[sel]
            score = None
            for i in S[m]:
                j = np.searchsorted(uid_k[i], dids)
                tf = tf_k[i][j]
                w = idf_of[i] * (
                    tf / (tf + K1 * (one_minus_b
                                     + BB * dl_k[i][j] / avgdl_of[i]))
                )
                score = w if score is None else score + w
            if score is None:
                score = np.zeros(len(dids), dtype=np.float64)
            did_parts.append(dids)
            score_parts.append(score)
        if not did_parts:
            return []
        all_dids = np.concatenate(did_parts)
        all_scores = np.concatenate(score_parts)
        order = np.lexsort((all_dids, -all_scores))
        take = order[skip:skip + k] if k else order[skip:]
        return [(int(all_dids[t]), float(all_scores[t])) for t in take]

    # targeted point reads engage only when every docs row group is at
    # most this many rows (the bounded-row-group layout build_index now
    # writes); legacy 128 MB-group layouts keep the dataset scanner.
    _POINT_RG_MAX_ROWS = 131_072

    def _docs_rg_index(self):
        """Row-group directory of the docs dataset for targeted point
        reads: (mins, cum_max, entries) where entries are (min_doc_id,
        max_doc_id, file_path, group_idx) sorted by min.  Holds PATHS,
        not open handles — a many-file layout must not pin thousands of
        file descriptors for the engine's lifetime; _docs_point_table
        reopens the few covering files per fetch (footer parse ~ms).
        None when any group lacks doc_id stats, is oversized (legacy
        layout), or the dataset is unavailable — callers fall back to
        the dataset scanner.  Cached with the pa-dataset lifecycle:
        refresh() drops it (an append adds files; only their footers are
        read again, see _file_memo), clear_cache() keeps it (IO
        metadata, not decoded query data — same contract as the cached
        datasets)."""
        if self._reader.name != "pyarrow":
            return None
        if self._docs_rg is not None:
            return None if self._docs_rg == "n/a" else self._docs_rg
        ds = self._reader.dataset("docs")
        out = "n/a"
        # footer pass is once per file and driver-local; still, bound
        # the file count so a pathological layout cannot stall warmup
        if ds is not None and len(ds.files) <= 4096:
            per_file = self._file_memo("docs_rg", ds.files, self._rg_entries)
            ok = all(e is not None for e in per_file)
            entries = [e for es in per_file if es for e in es]
            if ok and entries:
                entries.sort(key=lambda e: (e[0], e[1]))
                mins = [e[0] for e in entries]
                cum, m = [], entries[0][1]
                for e in entries:
                    m = max(m, e[1])
                    cum.append(m)
                out = (mins, cum, entries)
        self._docs_rg = out
        return None if out == "n/a" else out

    def _rg_entries(self, f: str) -> list | None:
        """(min_doc_id, max_doc_id, f, group_idx) per non-empty row group
        of docs file ``f``; None when a group lacks doc_id stats or is
        oversized."""
        import pyarrow.parquet as pq

        try:
            md = pq.read_metadata(f)
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index("doc_id")
        except Exception:
            return None
        entries = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = rg.column(ci).statistics
            if (st is None or not st.has_min_max
                    or rg.num_rows > self._POINT_RG_MAX_ROWS):
                return None
            entries.append((int(st.min), int(st.max), f, g))
        return entries

    def _file_memo(self, kind: str, files, read) -> list:
        """``read(f)`` for each published file, remembered across
        refresh(): a published file is never rewritten in place (a
        segment rewrite or a compact writes new names), so an append
        costs reads of its new files only."""
        memo = self._per_file.get(kind, {})
        out = {f: memo[f] if f in memo else read(f) for f in files}
        self._per_file[kind] = out  # forgets files no longer listed
        return list(out.values())

    def _docs_point_table(self, need: list[int], names: list[str]):
        """Arrow table of exactly the ``need`` doc rows via per-hit
        row-group binary search (footer stats cached by _docs_rg_index) —
        decode cost is the few covering row groups, never a dataset scan.
        None = not eligible (legacy layout / partition column requested);
        the caller uses the dataset-scanner read instead."""
        import bisect

        import pyarrow as pa
        import pyarrow.compute as pc

        idxobj = self._docs_rg_index()
        if idxobj is None:
            return None
        mins, cum, entries = idxobj
        groups: dict[tuple, tuple] = {}
        for d in need:
            i = bisect.bisect_right(mins, d) - 1
            # interval stabbing: files may interleave doc_id ranges (hash
            # placement of contiguous conv buckets), so walk left over
            # every group whose [min, max] covers d — cum_max bounds the
            # walk; the final is_in filter discards false positives
            while i >= 0 and cum[i] >= d:
                e = entries[i]
                if e[0] <= d <= e[1]:
                    groups[(e[2], e[3])] = e
                i -= 1
        if not groups:
            return None
        try:
            parts = []
            by_path: dict[str, list[int]] = {}
            for (_, _, path, g) in groups.values():
                by_path.setdefault(path, []).append(g)
            import pyarrow.parquet as pq

            for path, gs in by_path.items():
                # open lazily per fetch (footer parse is ~ms) and close
                # on the way out: the index holds PATHS, not handles, so
                # a many-file layout never pins thousands of file
                # descriptors, and a fetch burst releases each one
                # deterministically
                with pq.ParquetFile(path) as pf:
                    for g in sorted(gs):
                        part = pf.read_row_group(g, columns=names)
                        if any(n not in part.column_names for n in names):
                            # pyarrow silently DROPS unknown names from
                            # ``columns`` — e.g. the hive partition
                            # column lives in the directory, not the
                            # file, and a drifted file could lack a
                            # column the unified dataset schema still
                            # lists.  Refuse rather than return a
                            # narrower table.
                            return None
                        parts.append(R.utc_table(part))
            tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
            return tbl.filter(pc.is_in(
                tbl["doc_id"], value_set=pa.array(need, type=pa.int64())))
        except Exception:
            # schema drift across segments, unreadable file, concat
            # mismatch — the dataset scanner handles all of these (it
            # fills nulls from the unified schema)
            return None

    def _fetch_hits(self, hits: list[tuple[int, float]],
                    sel: list[str] | None) -> DataFrame:
        """Materialize collected (doc_id, score) hits: read exactly the hit
        rows (doc_id IN, min/max-pruned on the doc_id-sorted docs files),
        merge the scores and sort driver-side, and hand Spark the k-row
        Arrow table.  On the pyarrow backend the targeted row-group
        reader (_docs_point_table) serves bounded-row-group layouts
        (decode ∝ covering groups), the dataset scanner everything else;
        both are job-free."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        docs = self._reader.schema("docs")
        cols = self._ranked_cols(docs.names, sel)
        schema = from_arrow_schema(pa.schema(
            [docs.field(c).with_nullable(True) for c in cols]
            + [pa.field("score", pa.float64())]))
        if not hits:
            # createDataFrame of an EMPTY local frame launches a job;
            # one all-null local row cut by limit(0) stays job-free
            return self.spark.createDataFrame(
                [(None,) * len(cols + ["score"])], schema=schema).limit(0)
        names = list(dict.fromkeys(["doc_id"] + cols))
        need = [int(d) for d, _ in hits]
        tbl = (self._docs_point_table(need, names)
               if "segment" not in names else None)
        if tbl is None:
            tbl = self._reader.read("docs", names, {"doc_id": need})
        smap = {int(d): float(s) for d, s in hits}
        tbl = tbl.append_column("score", pa.array(
            [smap[d] for d in tbl.column("doc_id").to_pylist()],
            pa.float64()))
        # the final sort runs HERE (same float64 keys and tie-break as
        # the distributed orderBy) so the returned frame is a pre-ordered
        # LocalRelation: collecting it is job-free — a Spark orderBy on
        # 10 local rows would cost 3 scheduling round-trips (sampling +
        # shuffle + collect)
        tbl = tbl.sort_by([("score", "descending"), ("conv_id", "ascending"),
                           ("turn_idx", "ascending")])
        return self.spark.createDataFrame(tbl.select(cols + ["score"]),
                                          schema=schema)

    def _docs_bytes(self) -> int:
        """Catalyst's size estimate for the docs table (file-listing
        stats off the cached FileIndex — no job)."""
        if self._docs_size is None:
            plan = self.documents()._jdf.queryExecution().optimizedPlan()
            self._docs_size = int(plan.stats().sizeInBytes())
        return self._docs_size

    def _ranked(self, q: Query, term_identity: str) -> DataFrame:
        """(doc_id, score) after the boolean fold — the MASK-CLASS fold,
        the one distributed form of Resin's Reducer (Reducer.cs:86-149).

        One per-doc aggregation over the decoded postings gives each
        doc's per-key (tf, dl) and its CLASS: the comma-joined indices of
        the query keys it matched.  Docs in one class behave identically
        under the fold, so the whole fold runs driver-side over the
        classes (_mask_reduce, emptiness decisions as exact set checks —
        no per-merge probe jobs, no joins), yielding S: class → ordered
        key indices whose BM25 weights sum into the score.  S ships as
        one map literal and the score is one fixed-size expression:
        ``aggregate(S[cls], 0.0, (acc, i) -> acc + w[i])`` over the
        per-key weight array, the oracle's left-associative float64 sum
        (0.0 + w == w); docs whose class is not in S are dropped.

        Classes come from the full enumeration when no fold branch can
        depend on the data (_fold_is_static, ≤ 12 keys — no histogram
        job), else from a histogram job over the persisted per-doc frame.
        A single surface-mode key has one row per doc and skips the
        aggregation."""
        # evict the previous query's persisted postings: a long-lived
        # engine must not accumulate one cached RDD per query (a caller
        # still holding an old result DataFrame just recomputes it)
        self._evict_persisted()
        empty = self.spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score"))
        terms = query_terms(q)
        if not terms:
            return empty
        surface = term_identity == "surface"
        by_field: dict[str, set[str]] = {}
        for t in terms:
            tok = t.token if surface else chars_key_py(t.token)
            by_field.setdefault(t.field, set()).add(tok)
        keys = sorted((f, tok) for f, toks in by_field.items() for tok in toks)
        idx = {k: i for i, k in enumerate(keys)}
        n = len(keys)

        # map phase: pushed-down postings scan of exactly the queried keys
        key_col = self._key_col(term_identity)
        pred = _functools_reduce(
            lambda a, b: a | b,
            [
                (F.col("field") == f) & F.col(key_col).isin(sorted(toks))
                for f, toks in by_field.items()
            ],
        )
        decoded = B.decoded_postings(
            self.postings().filter(pred)
            .select("field", key_col, "segment",
                    "doc_ids_bin", "tfs_bin", "dls_bin")
            .withColumnRenamed(key_col, "term")
        )
        if surface and n == 1:
            per_doc = decoded.select(
                "doc_id", F.col("tf").alias("tf0"), F.col("dl").alias("dl0"),
                F.lit("0").alias("cls"))
        else:
            # per-doc aggregation: per-key (tf, dl) + the matched-key class.
            # sum(tf) doubles as the charbag anagram merge (surface mode
            # has one row per (doc, key) so sum == the value).
            def cond(i: int):
                f, tok = keys[i]
                return (F.col("field") == f) & (F.col("term") == tok)

            aggs = []
            for i in range(n):
                aggs.append(F.sum(F.when(cond(i), F.col("tf"))).alias(f"tf{i}"))
                aggs.append(F.max(F.when(cond(i), F.col("dl"))).alias(f"dl{i}"))
            per_doc = decoded.groupBy("doc_id").agg(*aggs).withColumn(
                "cls",
                F.concat_ws(",", *[F.when(F.col(f"tf{i}").isNotNull(),
                                          F.lit(str(i))) for i in range(n)]),
            )

        df_by_key = None
        if surface:
            # df off the term directory (driver mirror when it fits, else
            # the persisted distributed frame — never a parquet re-scan)
            df_map = self._surface_df_map(by_field, pred)
            df_by_key = [df_map.get(k, 0) for k in keys]
        if (df_by_key is not None and n <= 12
                and self._fold_is_static(q, df_by_key, idx, term_identity)):
            # STATIC fold (no and/or merge ever lands on a result whose
            # emptiness is data-dependent — covers 2-term ANDs, pure ORs,
            # NOT-subtraction chains): enumerate the full class space, no
            # histogram job.  Query = df-metadata job + top-k job, same
            # job count as a single-term query.
            observed = dict.fromkeys(range(1, 1 << n))
        else:
            per_doc = per_doc.persist()
            self._cached.append(per_doc)
            # one tiny job: the class histogram materializes the persisted
            # agg and yields the observed classes the fold runs over (and
            # per-key df for charbag mode, where metadata df would count
            # pre-merge anagram postings)
            hist = per_doc.groupBy("cls").agg(
                F.count(F.lit(1)).alias("n")).collect()
            observed = {
                sum(1 << int(i) for i in r["cls"].split(",")): r["n"]
                for r in hist
            }
            if df_by_key is None:
                df_by_key = [
                    sum(c for m, c in observed.items() if (m >> i) & 1)
                    for i in range(n)
                ]

        state = self._mask_reduce(q, None, observed, df_by_key, idx,
                                  term_identity)
        if state is None or not state[0]:
            return empty
        masks, S = state

        # per-key BM25 weight, idf/avgdl folded in as literals with the
        # same float64 op tree as the oracle (reference.py weight()).
        # Unmatched keys (df 0) never appear in S, so their slot is unread.
        stats = self.stats()
        no_stats = {"n_docs": 0, "avgdl": 1.0}
        w = []
        for (f, tok), i in idx.items():
            st = stats.get(f, no_stats)
            idf = self.idf(st["n_docs"], df_by_key[i])
            avgdl = st["avgdl"] if st["n_docs"] else 1.0
            tf_d = F.col(f"tf{i}").cast("double")
            dl_d = F.col(f"dl{i}").cast("double")
            denom = tf_d + F.lit(K1) * (
                F.lit(1.0 - BB) + F.lit(BB) * dl_d / F.lit(avgdl)
            )
            w.append(F.lit(idf) * (tf_d / denom))
        weights = F.array(*w)
        table = F.from_json(
            F.lit(json.dumps({
                ",".join(str(i) for i in range(n) if (m >> i) & 1): list(S[m])
                for m in masks
            })),
            "map<string,array<int>>",
        )
        return (
            per_doc.withColumn("ks", F.element_at(table, F.col("cls")))
            .where(F.col("ks").isNotNull())
            .select("doc_id", F.aggregate(
                "ks", F.lit(0.0),
                lambda acc, i: acc + F.element_at(weights, i + 1),
            ).alias("score"))
        )

    def _fold_is_static(self, q: Query, df_by_key: list, idx: dict,
                        term_identity: str) -> bool:
        """True when the fold's branch choices never depend on whether an
        intermediate RESULT happens to be empty on this data — i.e. no
        and/or merge lands on a state whose emptiness is data-dependent.
        Mirrors _mask_reduce over an emptiness lattice:
        N(onempty)/E(mpty)/U(nknown).  A static fold can be enumerated
        over the full mask space with no histogram job."""
        ok = True

        def merge(sym, sym_in, op):
            nonlocal ok
            if sym is None or sym == "E":
                return sym if op == "not" else sym_in
            if sym == "U" and op in ("and", "or"):
                ok = False  # insert-all-vs-merge branch is data-dependent
            if op == "and":
                return "E" if sym_in == "E" else "U"
            if op == "or":
                return sym
            return "U"  # not-merge may empty the result (but same branch)

        def reduce_q(q: Query, sym):
            qs = None
            matched_any = False
            for t in q.terms:
                tkey = (t.token if term_identity == "surface"
                        else chars_key_py(t.token))
                i = idx.get((t.field, tkey))
                if i is None or df_by_key[i] == 0:
                    continue
                matched_any = True
                qs = "N" if q.op == "not" else merge(qs, "N", t.op)
            if matched_any:
                sym = merge(sym, qs, q.op)
            elif q.op == "and" and sym is not None:
                sym = "E"
            for child in (q.and_q, q.or_q, q.not_q):
                if child is not None:
                    sym = reduce_q(child, sym)
            return sym

        reduce_q(q, None)
        return ok

    def _mask_merge(self, state, incoming, op: str):
        """Reducer.cs:86-149 over mask classes: reference._merge with the
        per-doc dicts replaced by (masks, S), where S[m] is the ordered
        tuple of term-instance key indices whose weights sum into the
        score of every doc in class m."""
        if state is None or not state[0]:
            if op == "not":
                return state
            return incoming
        masks, S = state
        imasks, iS = incoming
        if op == "and":
            keep = masks & imasks
            return (keep, {m: S[m] + iS[m] for m in keep})
        if op == "or":
            return (
                masks,
                {m: S[m] + iS[m] if m in imasks else S[m] for m in masks},
            )
        keep = masks - imasks
        return (keep, {m: S[m] for m in keep})

    def _mask_reduce(self, q: Query, state, observed: dict, df_by_key: list,
                     idx: dict, term_identity: str):
        """reference._reduce_query over mask classes — identical
        structure."""
        query_state = None
        matched_any = False
        for t in q.terms:
            tkey = t.token if term_identity == "surface" else chars_key_py(t.token)
            i = idx.get((t.field, tkey))
            if i is None or df_by_key[i] == 0:
                continue  # unmatched term skipped (Reducer.cs:88-89)
            matched_any = True
            tmasks = {m for m in observed if (m >> i) & 1}
            term_mf = (tmasks, {m: (i,) for m in tmasks})
            if q.op == "not":
                # subtraction set: union of the clause's postings; scores
                # are irrelevant (only removal uses it)
                if query_state is None:
                    query_state = term_mf
                else:
                    u = query_state[0] | tmasks
                    query_state = (u, {m: () for m in u})
            else:
                query_state = self._mask_merge(query_state, term_mf, t.op)
        if matched_any:
            state = self._mask_merge(state, query_state, q.op)
        elif q.op == "and" and state is not None:
            # empty clause dict AND-merged clears the result
            # (Reducer.cs:24-39) — mirrors reference._reduce_query
            state = (set(), {})
        if q.and_q is not None:
            state = self._mask_reduce(q.and_q, state, observed, df_by_key,
                                      idx, term_identity)
        if q.or_q is not None:
            state = self._mask_reduce(q.or_q, state, observed, df_by_key,
                                      idx, term_identity)
        if q.not_q is not None:
            state = self._mask_reduce(q.not_q, state, observed, df_by_key,
                                      idx, term_identity)
        return state

    def diagnostics(self, query: dict | Query | None = None) -> dict:
        """X13 — index/operator diagnostics (the reference logs tree
        depth/width and docs/sec, PathFinder.Size + IndexDebugger; the
        Spark analogs are segment/block shape, corpus stats, and the
        executed plan of a query).  Driver-side metadata only — reads
        block METADATA columns, never decodes postings."""
        post = self.postings()
        shape = (
            post.groupBy("field").agg(
                F.countDistinct("segment").alias("n_segments"),
                F.count(F.lit(1)).alias("n_blocks"),
                F.countDistinct("term").alias("n_terms"),
                F.sum("df_block").alias("n_postings"),
                F.max("df_block").alias("max_block_df"),
            ).collect()
        )
        out = {
            "root": self.root,
            "stats": self.stats(),
            "fields": {
                r["field"]: {k: r[k] for k in
                             ("n_segments", "n_blocks", "n_terms",
                              "n_postings", "max_block_df")}
                for r in shape
            },
        }
        if query is not None:
            q = parse_query(query) if isinstance(query, dict) else query
            # the reported plan is the FULL distributed pipeline (postings
            # scan, scoring, top-k, docs join), built lazily: no top-k
            # execution, and no engine state changes under a concurrent
            # query
            ranked = self._ranked(q, "surface").orderBy(
                F.desc("score"), F.asc("doc_id")).limit(10)
            plan = self._join_docs(ranked, 10, None)
            out["plan"] = plan._jdf.queryExecution().executedPlan().toString()
        return out

    def vocabulary(self, field: str = "text") -> DataFrame:
        """I5 Build (pure vocabulary): distinct terms of a field with df
        (GraphBuilder.cs:201-241 built a doc-less term tree)."""
        return (
            self.postings()
            .filter(F.col("field") == field)
            .groupBy("term")
            .agg(F.sum("df_block").alias("df"))
        )

    def _evict_persisted(self) -> None:
        """Per-query cleanup: unpersist the previous query's RDDs (a
        long-lived engine must not accumulate one cached RDD per query)."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def clear_cache(self) -> None:
        """Full reset: persisted RDDs AND the term, block-stats and
        positional LRUs.
        Benchmarks call this between trials so a timed query never hits
        the warm term cache; long-lived sessions keep the LRU across
        queries (the reference's cached-ColumnReader behavior)."""
        self._evict_persisted()
        self._term_lru.clear()
        self._stats_lru.clear()
        self._pos_lru.clear()


def multi_search(
    engines: dict[str, SearchEngine],
    query: dict | Query,
    k: int = 10,
    skip: int = 0,
    select: list[str] | None = None,
    term_identity: str = "surface",
) -> DataFrame:
    """X9 multi-collection search: one query spans collections; result
    keys are (collection, doc) and scores use each collection's own
    stats, exactly as the reference where Terms carry CollectionId and
    the reduce dict is keyed (collectionId, docId) (Term.cs:11,
    Reducer.cs:9).  Per-collection top-k, union, then one global top-k
    (TakeOrderedAndProject).

    The per-collection ``limit(k + skip)`` BEFORE the docs join is
    load-bearing at scale: the broadcast side is at most k+skip rows,
    never the full ranked frame (a hot-term query over a large
    collection would otherwise broadcast millions of rows to every
    executor).  It cannot change results: the global order restricted to
    one collection is (score desc, doc_id asc) — doc_id order ==
    (conv_id, turn_idx) order by construction (ids.py) — so global ranks
    1..skip+k are contained in the union of the per-collection
    top-(skip+k), and page (skip, k) of the global order survives the
    prune.  ``select`` projects extra stored doc columns (present in
    every searched collection) alongside the fixed
    (collection, conv_id, turn_idx, score) keys."""
    extra = [c for c in (select or [])
             if c not in ("doc_id", "conv_id", "turn_idx",
                          "collection", "score")]
    parts = []
    for name, eng in engines.items():
        q = parse_query(query) if isinstance(query, dict) else query
        ranked = (
            eng._ranked(q, term_identity)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k + skip)
        )
        docs = eng.documents().select(
            "doc_id", "conv_id", "turn_idx", *extra)
        parts.append(
            docs.join(F.broadcast(ranked), "doc_id")
            .select(
                F.lit(name).alias("collection"),
                "conv_id",
                "turn_idx",
                *extra,
                "score",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.orderBy(
        F.desc("score"), F.asc("collection"), F.asc("conv_id"), F.asc("turn_idx")
    )
    if skip:
        out = out.offset(skip)
    return out.limit(k)
