"""The benchmark's own tests: oracle parity, seeded inputs, and toy-size
(--smoke) runs of every workload.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start Spark, so this file takes a few minutes; the oracle
and input tests run in seconds.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from perfbench import corpus as C
from perfbench.oracle import Oracle
from perfbench.run import END_TO_END, PER_LAYER

ROOT = Path(__file__).resolve().parent.parent
RUN = [sys.executable, "perfbench/run.py"]
# per-layer metrics that are exact work counts (equal across same-seed
# runs); the shares (lru_served_frac, jobless_frac) cover the whole timed
# window, whose length varies
COUNTS = ("postings.values_per_query", "postings.decoded_per_df",
          "io.row_groups_per_query", "io.scans_per_query",
          "io.rows_read_per_query", "spark.jobs_per_query",
          "build.jobs_per_append", "build.files_per_append", "failed_frac")


def toy(seed: int = 3):
    rng = np.random.default_rng(seed)
    corpus = C.Corpus(C.make_vocab(200, rng), 200)
    batches = [C.gen_batch(rng, corpus, 40, f"t{b}c", (3, 9),
                           planted=(f"zq{b}a", f"zq{b}b")) for b in range(2)]
    return rng, corpus, batches


def test_vocab_words_are_single_tokens():
    from resin_spark.tokenizer import tokenize_py

    vocab = C.make_vocab(5000, np.random.default_rng(0))
    assert len(set(vocab)) == 5000
    assert all(tokenize_py(w) == [w] for w in vocab)


def test_inputs_are_seeded():
    def draw(seed):
        rng, corpus, batches = toy(seed)
        pool = C.gen_pool(rng, corpus, 5)
        stream = C.gen_stream(rng, pool, 60)
        return [b.frame.to_dict("list") for b in batches], [
            op.key for op in stream]

    assert draw(7) == draw(7)
    assert draw(7) != draw(8)


def test_planted_word_is_in_exactly_its_row():
    _, _, batches = toy()
    for b in batches:
        for word, key in b.planted.items():
            rows = [i for i, t in enumerate(b.frame["text"])
                    if word in t.split()]
            assert len(rows) == 1
            row = b.frame.iloc[rows[0]]
            assert (row["conv_id"], row["turn_idx"]) == key


def test_phrase_oracle_keeps_exactly_the_rows_holding_the_phrase():
    rng, corpus, batches = toy()
    oracle = Oracle(pd.concat([b.frame for b in batches], ignore_index=True))
    # each row's words, rebuilt from the corpus's token ids rather than by
    # tokenizing its text
    words = np.array(corpus.vocab, dtype=object)
    toks = np.concatenate(corpus.toks)
    off = np.concatenate(([0], np.cumsum(np.concatenate(corpus.lens))))
    keys = list(zip(corpus.conv, np.concatenate(corpus.turn).tolist()))
    rows = [list(words[toks[off[i]:off[i + 1]]]) for i in range(len(keys))]
    for op in C.gen_pool(rng, corpus, 6)["phrase"]:
        pair = op.query.split()
        holding = {key for key, r in zip(keys, rows)
                   if any(r[i:i + 2] == pair for i in range(len(r) - 1))}
        assert holding, op.query
        ranked = oracle.search({"and": {"text": op.query}}, 0)
        want = [h for h in ranked if h[0] in holding]
        assert len(want) == len(holding)
        assert oracle.phrase(op.query, 0) == want, op.query
        assert oracle.phrase(op.query, 10) == want[:10], op.query


def test_stream_holds_the_shape_mix():
    rng, corpus, _ = toy()
    blocks = 7
    stream = C.gen_stream(rng, C.gen_pool(rng, corpus, 5),
                          blocks * sum(C.SHAPE_MIX.values()))
    counts = {s: sum(op.shape == s for op in stream) for s in C.SHAPES}
    assert counts == {s: blocks * c for s, c in C.SHAPE_MIX.items()}


def test_benchmark_json_lists_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["serve", "ingest"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run(RUN + ["--workload", "serve", "--seed", "1",
                              "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def smoke(workload: str, seed: int, trace: int) -> list:
    return RUN + ["--workload", workload, "--seed", str(seed),
                  "--seconds", "1", "--trace", str(trace), "--smoke"]


def results(cmds: list[list[str]]) -> list[dict]:
    """Run the commands two at a time; the last stdout line of each."""
    out = []
    for i in range(0, len(cmds), 2):
        procs = [subprocess.Popen(c, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
                 for c in cmds[i:i + 2]]
        for p in procs:
            stdout, _ = p.communicate(timeout=600)
            assert p.returncode == 0
            out.append(json.loads(stdout.strip().splitlines()[-1]))
    return out


def check(res: dict, names: dict) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == set(names)
    for name, m in res["metrics"].items():
        assert m["unit"] == names[name]
        assert isinstance(m["value"], float), name


@pytest.mark.parametrize("workload", ["serve", "ingest"])
def test_smoke_traced_counts_repeat(workload):
    a, b = results([smoke(workload, 5, 1), smoke(workload, 5, 1)])
    check(a, PER_LAYER)
    check(b, PER_LAYER)
    for name in COUNTS:
        assert a["metrics"][name] == b["metrics"][name], name


def test_smoke_end_to_end():
    for res in results([smoke(w, 6, 0) for w in ("serve", "ingest")]):
        check(res, END_TO_END)
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_warm_up_runs_until_block_latency_stops_falling(monkeypatch):
    from types import SimpleNamespace

    from perfbench import run as R

    def warm(latency) -> int:
        """Ops warm_up runs when op i takes ``latency(i)`` seconds."""
        clock = [0.0]
        monkeypatch.setattr(R, "time", SimpleNamespace(
            perf_counter=lambda: clock[0]))

        def call(i):
            clock[0] += latency(i)

        run = SimpleNamespace(sz={"min_queries": 10, "warmup": 30,
                                  "max_warmup": 80})
        return R.warm_up(run, list(range(200)), call, lambda: None)

    assert warm(lambda i: 1.0) == 30  # steady: the minimum
    assert warm(lambda i: 0.9 ** (i // 10)) == 80  # still falling: the cap
    assert warm(lambda i: 0.8 ** min(i // 10, 4)) == 60  # steady from op 40
