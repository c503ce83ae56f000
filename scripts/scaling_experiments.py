"""A/B harness for the 1->4 core build-scaling push (VERDICT r2 item 7).

Runs the contract build (parquet table -> index) at pinned 1 and 4 cores
for each named variant, interleaved trials, and prints turns/sec +
scaling efficiency per variant.  Variants are Spark-conf-only so the
shipped code path stays single-source.

Usage: python scripts/scaling_experiments.py [target_turns] [trials] [variant ...]
Defaults: 10_000_000 turns, 2 trials, all variants.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VARIANTS: dict[str, dict] = {
    "baseline": {},
    # halve/quarter the Arrow batch flowing through the mapInPandas
    # encoder (session default is 131072 rows / 16 MB) — smaller
    # per-task working set, more batches
    "arrow64k": {"conf": {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.execution.arrow.maxBytesPerBatch": "8388608"}},
    "arrow32k": {"conf": {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
        "spark.sql.execution.arrow.maxBytesPerBatch": "4194304"}},
    # zstd shuffle: ~30% fewer bytes through the page cache at some CPU
    # cost — trades CPU (scales) for DRAM bandwidth (doesn't)
    "zstd_shuffle": {"conf": {"spark.io.compression.codec": "zstd"}},
}


def _pin(cores: int) -> list[str]:
    if cores >= (os.cpu_count() or 1) or not shutil.which("taskset"):
        return []
    return ["taskset", "-c", f"0-{cores - 1}" if cores > 1 else "0"]


def build_once(cores: int, corpus: str, warm: str, root: str,
               variant: dict) -> float:
    extra = variant.get("conf", {})
    code = f"""
import sys, json, time
sys.path.insert(0, {REPO!r})
from resin_spark.session import make_session
from resin_spark.build import build_index

spark = make_session("local[{cores}]", "scalex",
                     shuffle_partitions=max(8, {cores} * 2),
                     extra={extra!r})
spark.sparkContext.setLogLevel("ERROR")
build_index(spark, spark.read.parquet({warm!r}), {root!r} + "_warmup")
t = spark.read.parquet({corpus!r})
t0 = time.monotonic()
out = build_index(spark, t, {root!r})
wall = time.monotonic() - t0
print("RESULT " + json.dumps({{"tps": out["turns"] / wall}}))
spark.stop()
"""
    p = subprocess.run(_pin(cores) + [sys.executable, "-c", code],
                       capture_output=True, text=True, timeout=5400)
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])["tps"]
    raise RuntimeError(f"build failed (cores={cores}):\n{p.stdout[-2000:]}\n"
                       f"{p.stderr[-3000:]}")


def gen_corpus(n_convs: int, max_turns: int, path: str) -> None:
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
from resin_spark.session import make_session
from resin_spark.fixtures import transcripts_df_distributed

spark = make_session("local[32]", "scalex_gen", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
transcripts_df_distributed(spark, {n_convs}, {max_turns}).write.mode(
    "overwrite").parquet({path!r})
spark.stop()
"""
    subprocess.run([sys.executable, "-c", code], check=True,
                   capture_output=True, text=True, timeout=3000)


def main() -> None:
    target = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    names = sys.argv[3:] or list(VARIANTS)
    max_turns = 12
    n_convs = max(200, int(target / (max_turns / 2 + 0.5)))
    tmp = tempfile.mkdtemp(prefix="scalex_")
    corpus, warm = f"{tmp}/corpus.parquet", f"{tmp}/warm.parquet"
    gen_corpus(max(200, n_convs // 20), max_turns, warm)
    gen_corpus(n_convs, max_turns, corpus)
    results = {}
    for name in names:
        variant = VARIANTS[name]
        t1, t4 = [], []
        for i in range(trials):
            t1.append(build_once(1, corpus, warm, f"{tmp}/idx1_{name}_{i}", variant))
            t4.append(build_once(4, corpus, warm, f"{tmp}/idx4_{name}_{i}", variant))
            shutil.rmtree(f"{tmp}/idx1_{name}_{i}", ignore_errors=True)
            shutil.rmtree(f"{tmp}/idx4_{name}_{i}", ignore_errors=True)
        m1, m4 = statistics.median(t1), statistics.median(t4)
        results[name] = {
            "tps_1": round(m1, 1), "tps_4": round(m4, 1),
            "eff_1_to_4": round(m4 / (4 * m1), 3),
            "trials_1": [round(x, 1) for x in t1],
            "trials_4": [round(x, 1) for x in t4],
        }
        print(name, json.dumps(results[name]), flush=True)
    print("FINAL " + json.dumps(results))


if __name__ == "__main__":
    main()
