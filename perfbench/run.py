"""resin_spark benchmark: one seeded workload per run, end-to-end metrics
checked against the pure-Python oracle, or a traced run with per-layer
metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

* serve   a collection loaded by one ``api.append_docs``, then a
          Zipf-popular closed-loop stream of single / AND / OR / NOT /
          multifield / phrase queries (k=10) through ``SearchEngine``.
* ingest  fixed-size ``api.append_docs`` batches; after each one
          ``refresh()`` and probe queries that must return the planted rows
          of this and earlier batches.

One process, one client thread, Spark ``local[4]``.  Everything the run
writes lives under ``.perfbench/`` at the repository root.  The last line of
standard output is the JSON result; the line before it holds the traffic
properties of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import uuid
from pathlib import Path
from statistics import median

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent

SIZES = {
    # vocab: distinct words; *_convs: conversations (1-6 turns each);
    # pool: queries per shape; warmup, max_warmup: bounds of serve's
    # untimed warm-up (see warm_up); probe_warmup: untimed ingest probes;
    # min_*: ops every run completes (the count window)
    "full": dict(vocab=4000, doc_len=(6, 20), serve_convs=12000, pool=40,
                 warmup=80, max_warmup=200, probe_warmup=40,
                 min_queries=40, ingest_base_convs=1000, batch_convs=250,
                 min_cycles=2),
    "smoke": dict(vocab=300, doc_len=(4, 10), serve_convs=120, pool=4,
                  warmup=12, max_warmup=24, probe_warmup=6, min_queries=12,
                  ingest_base_convs=60, batch_convs=20, min_cycles=2),
}
PROBE_K = 10
RECHECK = 10  # earlier planted rows re-read after each ingest append
TOLERANCE = 1e-9

END_TO_END = {
    "setup_s": "s", "query_p50_ms": "ms", "query_tail_ms": "ms",
    "queries_per_s": "1/s", "append_turns_per_s": "turns/s",
    "visible_p50_ms": "ms", "index_bytes_per_turn": "B",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "executor.search_ms": "ms", "executor.self_ms": "ms",
    "executor.lru_served_frac": "1", "executor.refresh_ms": "ms",
    "postings.values_per_query": "count", "postings.decode_ms": "ms",
    "postings.decoded_per_df": "1",
    "io.row_groups_per_query": "count", "io.scans_per_query": "count",
    "io.rows_read_per_query": "count", "io.read_ms": "ms",
    "spark.create_df_ms": "ms", "spark.collect_ms": "ms",
    "spark.jobs_per_query": "count", "spark.jobless_frac": "1",
    "build.append_ms": "ms", "build.jobs_per_append": "count",
    "build.files_per_append": "count", "trace.overhead_ms": "ms",
    "failed_frac": "1",
}


# ------------------------------------------------------------- helpers
def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); below 11 samples no percentile qualifies and the
    maximum is reported."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def reset_peak_rss() -> bool:
    """Restart this process's RSS high-water mark (``VmHWM``) at its current
    RSS; False where the kernel does not allow it."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb(since_reset: bool) -> float:
    """This process's peak RSS since ``reset_peak_rss``, or since process
    start when the reset was not allowed."""
    if since_reset:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def tree_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for nm in names:
            size += os.path.getsize(os.path.join(d, nm))
            files += 1
    return size, files


class Jobs:
    """Spark jobs launched by one op, through a job group set before it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = None

    def start(self) -> None:
        self.group = uuid.uuid4().hex
        self.sc.setJobGroup(self.group, "perfbench")

    def stop(self) -> int:
        n = len(self.sc.statusTracker().getJobIdsForGroup(self.group))
        self.sc.setJobGroup(None, None)
        return n


# --------------------------------------------------------------- state
class Run:
    """State of one benchmark run: session, tracer, op records."""

    def __init__(self, args, sizes, work: Path, spark):
        self.args = args
        self.sz = sizes
        self.work = work
        self.spark = spark
        self.tracer = None
        self.decoded = None  # trace.DecodeCounter, installed in every run
        self.jobs = Jobs(spark)
        self.queries: list[dict] = []   # timed query ops
        self.cycles: list[dict] = []    # append cycles
        self.failures: list[str] = []
        self.attempted = 0
        self.t_first_op = None
        self.t_window = None
        # work counts are taken over the first ``count_window`` timed ops,
        # which every run completes, so they repeat exactly per seed
        self.count_window = 0
        self.peak_rss_mb = None
        self.rss_reset = False
        self.info: dict = {"seed": args.seed, "workload": args.workload,
                           "phase_end_s": {}}

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds from process start."""
        self.info["phase_end_s"][phase] = time.perf_counter() - T_START

    # -- tracing of one op
    def _traced(self, i: int) -> bool:
        return self.tracer is not None and i % 2 == 1

    def _begin(self, traced: bool, op) -> None:
        if traced:
            self.jobs.start()
            self.tracer.begin(op)

    def _end(self, traced: bool, rec: dict) -> None:
        if traced:
            rec["trace"] = self.tracer.end()
            rec["jobs"] = self.jobs.stop()

    def fail(self, what: str) -> None:
        self.failures.append(what)

    # -- append cycle: append_docs, refresh, read-after-write probes
    def append_cycle(self, eng, root: str, batch, traced: bool, op: int,
                     recheck: tuple = ()):
        """Append ``batch``, refresh, then probe: the batch's first
        planted word (its return ends the visibility time), then each
        (word, row) of ``recheck``.  A probe must return exactly its
        planted row.  Returns (engine, record); the record is None when
        the cycle raised.  A traced cycle traces the append + refresh as
        op ("a", op) and probe j as op ("q", op, j)."""
        from resin_spark import api
        from resin_spark.executor import SearchEngine
        from resin_spark.fixtures import TRANSCRIPT_SCHEMA

        sdf = self.spark.createDataFrame(batch.frame, schema=TRANSCRIPT_SCHEMA)
        bytes0, files0 = tree_stats(root) if os.path.isdir(root) else (0, 0)
        rec = {"turns": batch.turns, "op": op, "probes": []}
        checks = [next(iter(batch.planted.items())), *recheck]
        self.attempted += 1 + len(checks)  # the append and each probe
        try:
            self._begin(traced, ("a", op))
            t0 = time.perf_counter()
            # positions: the collection is positional (phrase queries
            # verify adjacency from the postings)
            api.append_docs(self.spark, sdf, root, positions=True)
            t1 = time.perf_counter()
            if eng is None:
                eng = SearchEngine(self.spark, root)
            else:
                eng.refresh()
            t2 = time.perf_counter()
            self._end(traced, rec)
            got = []
            for j, (word, _) in enumerate(checks):
                probe = {"op": op, "shape": "probe"}
                self._begin(traced, ("q", op, j))
                d0 = self.decoded.n
                t3 = time.perf_counter()
                rows = eng.search({"and": {"text": word}},
                                  k=PROBE_K).collect()
                t4 = time.perf_counter()
                probe["decoded"] = self.decoded.n - d0
                self._end(traced, probe)
                if j == 0:
                    t_visible = t4
                probe.update(s=t4 - t3, sum_df=1)
                rec["probes"].append(probe)
                got.append([(r["conv_id"], r["turn_idx"]) for r in rows])
        except Exception as e:  # the run goes on; the op counts as failed
            if self.tracer is not None and self.tracer.active:
                self.tracer.end()
                self.jobs.stop()
            self.fail(f"append {op}: {e!r}")
            return eng, None
        bytes1, files1 = tree_stats(root)
        for (word, key), rows in zip(checks, got):
            if rows != [key]:
                self.fail(f"probe {word}: got {rows[:3]}, want {key}")
        rec.update(append_s=t1 - t0, refresh_s=t2 - t1,
                   visible_s=t_visible - t0, bytes=bytes1 - bytes0,
                   files=files1 - files0)
        self.cycles.append(rec)
        return eng, rec

    def window_open(self) -> None:
        # the RSS peak is the timed window's, not set-up's (corpus
        # generation and the bulk frame conversion peak before it)
        self.rss_reset = reset_peak_rss()
        self.mark("warm-up")
        self.t_first_op = time.perf_counter()

    def window_close(self) -> None:
        self.t_window = time.perf_counter() - self.t_first_op
        self.peak_rss_mb = peak_rss_mb(self.rss_reset)
        self.mark("window")

    def due(self, n_done: int, n_min: int) -> bool:
        return (n_done >= n_min and time.perf_counter() - self.t_first_op
                >= self.args.seconds)


def query_rows(df) -> list[tuple]:
    return [(r["conv_id"], r["turn_idx"], r["score"]) for r in df.collect()]


def same_hits(got: list[tuple], want: list[tuple]) -> bool:
    """Keys equal in order, scores within TOLERANCE."""
    return (len(got) == len(want)
            and all(g[:-1] == w[:-1] and abs(g[-1] - w[-1]) <= TOLERANCE
                    for g, w in zip(got, want)))


# ------------------------------------------------------------ workloads
def run_queries(run: Run, stream, call, min_ops: int, reset) -> None:
    """Closed loop over ``stream`` until the run's seconds are spent and
    at least ``min_ops`` queries completed.  ``reset`` runs, untimed,
    before every ``min_ops``-th query."""
    run.count_window = min_ops
    run.window_open()
    i = 0
    while not run.due(i, min_ops):
        if i % min_ops == 0:
            reset()
        op = stream[i]
        traced = run._traced(i)
        rec = {"op": i, "shape": op.shape}
        run._begin(traced, i)
        d0 = run.decoded.n
        t0 = time.perf_counter()
        try:
            rows = call(op)
        except Exception as e:
            rows, rec["error"] = None, repr(e)
        rec["s"] = time.perf_counter() - t0
        rec["decoded"] = run.decoded.n - d0
        run._end(traced, rec)
        rec["rows"] = rows
        run.queries.append(rec)
        i += 1
    run.window_close()


def warm_up(run: Run, stream, call, reset) -> int:
    """Untimed warm-up over the stream's first ops (JIT of the query path,
    dataset footers, df mirror), in blocks of ``min_queries`` with the
    caches cleared before each block, as in the timed loop.  A fresh JVM
    runs the query path up to 1.5x as slow for its first ~100 queries,
    longer on a loaded host, so after ``warmup`` ops the warm-up goes on
    while a block's median latency is still 5% below the block before
    it, up to ``max_warmup`` ops.  Returns the ops run."""
    block = run.sz["min_queries"]
    meds: list[float] = []
    i = 0
    while i < run.sz["max_warmup"]:
        reset()
        lat = []
        for op in stream[i:i + block]:
            t0 = time.perf_counter()
            call(op)
            lat.append(time.perf_counter() - t0)
        meds.append(median(lat))
        i += block
        if (i >= run.sz["warmup"] and len(meds) > 1
                and meds[-1] > 0.95 * meds[-2]):
            break
    return i


def serve(run: Run) -> None:
    import numpy as np

    from perfbench import corpus as C
    from perfbench.oracle import Oracle

    sz, seed = run.sz, run.args.seed
    rng = np.random.default_rng(seed)
    corpus = C.Corpus(C.make_vocab(sz["vocab"], rng), sz["vocab"])
    root = str(run.work / "serve")
    # the whole corpus is one append that creates the collection: serve's
    # write metrics are those of a bulk load into a fresh collection
    base = C.gen_batch(rng, corpus, sz["serve_convs"], "base",
                       sz["doc_len"], planted=(f"zq{seed}base",))
    eng, _ = run.append_cycle(None, root, base, run.tracer is not None, -1)
    run.mark("load")
    pool = C.gen_pool(rng, corpus, sz["pool"])
    stream = C.gen_stream(rng, pool, 5000)

    def call(op):
        if op.shape == "phrase":
            return query_rows(eng.phrase_search(op.query, k=PROBE_K))
        return query_rows(eng.search(op.query, k=PROBE_K))

    run.info["warmup_queries"] = warm_up(run, stream, call, eng.clear_cache)
    run.info["corpus_turns"] = corpus.n_docs
    # the query caches are cleared every min_queries ops, so the share of
    # LRU-served queries is the same whatever number of queries a run
    # completes (without it, a slow host completes fewer queries, serves
    # fewer from the LRUs and reads slower still)
    run_queries(run, stream, call, sz["min_queries"], eng.clear_cache)

    oracle = Oracle(base.frame)

    def expected(op):
        if op.shape == "phrase":
            return [(*k, s) for k, s in oracle.phrase(op.query, PROBE_K)]
        return [(*k, s) for k, s in oracle.search(op.query, PROBE_K)]

    def sum_df(op):
        return oracle.sum_df({"and": {"text": op.query}}
                             if op.shape == "phrase" else op.query)

    check_queries(run, stream, expected, sum_df)
    run.mark("oracle")


def check_queries(run: Run, stream, expected, sum_df) -> None:
    """Oracle gate over the timed queries (outside the timed region);
    traced ones also get the Σ df of their terms."""
    for rec in run.queries:
        op = stream[rec["op"]]
        run.attempted += 1
        if "error" in rec:
            run.fail(f"{op.key}: {rec['error']}")
            continue
        want = expected(op)
        if not same_hits(rec["rows"], want):
            run.fail(f"{op.key}: got {rec['rows'][:3]} want {want[:3]}")
        if "trace" in rec:
            rec["sum_df"] = sum_df(op)


def ingest(run: Run) -> None:
    import numpy as np

    from perfbench import corpus as C

    sz, seed = run.sz, run.args.seed
    rng = np.random.default_rng(seed)
    corpus = C.Corpus(C.make_vocab(sz["vocab"], rng), sz["vocab"])
    root = str(run.work / "ingest")
    base = C.gen_batch(rng, corpus, sz["ingest_base_convs"], "base",
                       sz["doc_len"],
                       planted=tuple(f"zq{seed}base{j}" for j in range(
                           RECHECK)))
    eng, _ = run.append_cycle(None, root, base, False, -1)
    run.mark("load")
    # planted rows of earlier batches, newest first: each cycle re-reads
    # RECHECK of them after its own probe (acknowledged appends stay
    # visible)
    earlier = list(base.planted.items())[::-1]

    def cycle(name: str, op: int, traced: bool):
        batch = C.gen_batch(rng, corpus, sz["batch_convs"], f"b{name}c",
                            sz["doc_len"], planted=(f"zq{seed}b{name}",))
        _, rec = run.append_cycle(eng, root, batch, traced, op,
                                  tuple(earlier[:RECHECK]))
        earlier[:0] = batch.planted.items()
        return rec

    # untimed warm-up: one more append cycle and a burst of probe
    # queries (the first appends and queries of a fresh JVM run slower
    # while it compiles those paths)
    cycle("w", -2, False)
    for j in range(sz["probe_warmup"]):
        word = earlier[j % len(earlier)][0]
        eng.search({"and": {"text": word}}, k=PROBE_K).collect()
    run.cycles.clear()  # set-up appends are not measured
    run.info["corpus_turns"] = corpus.n_docs
    run.count_window = sz["min_cycles"]
    run.window_open()
    i = 0
    while not run.due(i, sz["min_cycles"]):
        rec = cycle(str(i), i, run._traced(i))
        if rec is not None:
            run.queries.extend(rec["probes"])
        i += 1
    run.window_close()
    run.info["turns_appended"] = sum(c["turns"] for c in run.cycles)


WORKLOADS = {"serve": serve, "ingest": ingest}


# -------------------------------------------------------------- metrics
def end_to_end(run: Run) -> dict:
    q = [r["s"] for r in run.queries if "error" not in r]
    c = run.cycles
    tail_ms = tail(q)[0] if q else float("nan")
    m = {
        "setup_s": run.t_first_op - T_START,
        "query_p50_ms": median(q) * 1e3 if q else float("nan"),
        "query_tail_ms": tail_ms * 1e3,
        "queries_per_s": len(q) / run.t_window,
        "append_turns_per_s": (sum(x["turns"] for x in c)
                               / sum(x["append_s"] for x in c)),
        "visible_p50_ms": median([x["visible_s"] for x in c]) * 1e3,
        "index_bytes_per_turn": (sum(x["bytes"] for x in c)
                                 / sum(x["turns"] for x in c)),
        "driver_peak_rss_mb": run.peak_rss_mb,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}


def lru_served_frac(run: Run) -> float:
    """Share of the timed queries, the ones behind ``query_p50_ms``, that
    decoded no postings (served from the executor's LRUs)."""
    ok = [r for r in run.queries if "error" not in r]
    return sum(r["decoded"] == 0 for r in ok) / max(1, len(ok))


def traffic(run: Run) -> None:
    """Traffic properties of the run, for the info line."""
    ok = [r for r in run.queries if "error" not in r]
    q = [r["s"] for r in ok]
    by_shape: dict[str, list] = {}
    for r in ok:
        by_shape.setdefault(r["shape"], []).append(r["s"])
    run.info.update(
        queries=len(run.queries),
        query_tail_percentile=tail(q)[1] if q else None,
        shape_share={k: len(v) / len(ok) for k, v in sorted(by_shape.items())},
        p50_ms_by_shape={k: median(v) * 1e3
                         for k, v in sorted(by_shape.items())},
        lru_served_frac=lru_served_frac(run),
        append_visible_s=[[round(x["append_s"], 3), round(x["visible_s"], 3)]
                          for x in run.cycles],
        rss_peak_since="window" if run.rss_reset else "process start",
        window_s=run.t_window)


def per_layer(run: Run) -> dict:
    """Timings are medians over every traced op and shares are over the
    whole window, like the end-to-end metrics; counts are over the traced
    ops inside the count window, so they repeat exactly per seed."""
    ok = [r for r in run.queries if "error" not in r]
    timed = [r for r in ok if "trace" in r]
    tq = [r for r in timed if r["op"] < run.count_window]
    ta = [c for c in run.cycles
          if "trace" in c and c["op"] < run.count_window]
    un = [r["s"] for r in ok if "trace" not in r]

    def med(key, recs=timed):
        return median([r["trace"][key] for r in recs])

    def per_q(key):
        return sum(r["trace"][key] for r in tq) / len(tq)

    doc_ids = sum(r["trace"]["doc_ids"] for r in tq)
    jobs_by_shape: dict[str, list] = {}
    for r in tq:
        jobs_by_shape.setdefault(r["shape"], []).append(r["jobs"])
    m = {
        "executor.search_ms": med("executor_ms"),
        "executor.self_ms": med("executor_self_ms"),
        "executor.lru_served_frac": lru_served_frac(run),
        "executor.refresh_ms": med("refresh_ms", ta) if ta else 0.0,
        "postings.values_per_query": per_q("values"),
        "postings.decode_ms": med("decode_ms"),
        "postings.decoded_per_df": doc_ids / max(
            1, sum(r["sum_df"] for r in tq)),
        "io.row_groups_per_query": per_q("row_groups"),
        "io.scans_per_query": per_q("scans"),
        "io.rows_read_per_query": per_q("rows_read"),
        "io.read_ms": med("io_ms"),
        "spark.create_df_ms": med("create_df_ms"),
        "spark.collect_ms": med("collect_ms"),
        "spark.jobs_per_query": sum(r["jobs"] for r in tq) / len(tq),
        "spark.jobless_frac": sum(r["jobs"] == 0 for r in timed) / len(
            timed),
        "build.append_ms": med("append_ms", ta) if ta else 0.0,
        "build.jobs_per_append": (sum(c["jobs"] for c in ta) / len(ta)
                                  if ta else 0.0),
        "build.files_per_append": (sum(c["files"] for c in ta) / len(ta)
                                   if ta else 0.0),
        "trace.overhead_ms": (median([r["s"] for r in timed])
                              - median(un)) * 1e3,
        "failed_frac": len(run.failures) / max(1, run.attempted),
    }
    run.info.update(
        traced_queries=len(timed), counted_queries=len(tq),
        traced_appends=len(ta), jobless_frac=m["spark.jobless_frac"],
        jobs_per_query_by_shape={k: sum(v) / len(v)
                                 for k, v in sorted(jobs_by_shape.items())})
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}


# ----------------------------------------------------------------- main
def start_spark(work: Path):
    from resin_spark.session import make_session

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = make_session(
        master="local[4]", app_name="perfbench", shuffle_partitions=8,
        memory="3g",
        extra={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="toy-size inputs (the benchmark's own tests)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "resin_spark" / "__init__.py").is_file():
        print(f"perfbench: no resin_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    base = ROOT / ".perfbench"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    import tempfile
    tempfile.tempdir = None
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    spark = start_spark(work)
    try:
        from perfbench.trace import DecodeCounter, Tracer

        run = Run(args, SIZES["smoke" if args.smoke else "full"], work,
                  spark)
        run.mark("session")
        run.decoded = DecodeCounter()
        run.decoded.install()
        if args.trace:
            run.tracer = Tracer()
            run.tracer.install(spark)
        WORKLOADS[args.workload](run)
        metrics = per_layer(run) if args.trace else end_to_end(run)
        traffic(run)
        if args.trace:
            spans = (base / f"trace-{args.workload}-{args.seed}-"
                     f"{os.getpid()}.json")
            spans.write_text(json.dumps({
                "spans": run.tracer.spans,
                "ops": [{k: v for k, v in r.items()
                         if k not in ("rows", "probes")}
                        for r in run.queries + run.cycles]}, default=str))
            run.tracer.uninstall()
        run.decoded.uninstall()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in run.failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"info": run.info}))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
