"""Deep differential fuzz: the Spark engine vs the pure-Python oracle
on a MULTI-BLOCK Zipf corpus, under all six physical strategies.

The seeded 24-query family in tests/test_differential.py runs on the
40-conv fixture (one posting block), so the flat block-max / pruned-AND
routes exercise their bound logic against a degenerate block structure.
This script is the scaled-up verification pass: a 16k-conversation Zipf
corpus (4 posting blocks, skewed df, dl spread, block-localized bursts —
fixtures.transcripts_df_zipf; its last eighth appended as a second
segment) and hundreds of random boolean trees with
random k/skip paging, each checked rank- AND score-identical (1e-9)
against resin_spark.reference.oracle_search under every strategy, plus
warm repeats (term/stats LRU paths) and a phrase-query family.

Usage: python scripts/deep_fuzz.py [n_queries] [seed] [n_convs]
Defaults: 300 queries, seed 20260820, 16384 convs.  Runs local[N] with
N shuffle partitions, N = $SPARK_GRAFT_CPUS or the host's core count.
Exits non-zero on the first mismatch with the reproducing (seed, qid,
strategy, query).
"""

from __future__ import annotations

import math
import os
import random
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from resin_spark.fixtures import (FILLER_WORDS, FRUIT_WORDS, WAND_TOKEN,
                                  WAND_TOKEN2, WAND_TOKEN3,
                                  transcripts_df_zipf)
from resin_spark.reference import build_oracle_index, oracle_search
from resin_spark.session import make_session
from resin_spark.tokenizer import tokenize_py
from strategies import forced_strategy

VOCAB = (FRUIT_WORDS + FILLER_WORDS
         + [WAND_TOKEN, WAND_TOKEN2, WAND_TOKEN3,
            "user", "assistant", "tool",          # role values
            "zzznope", "qqnada"])                 # never occur
FIELDS = ["text", "text", "text", "text", "role"]


def _rand_clause(rng: random.Random, depth: int) -> dict:
    clause: dict = {}
    for _ in range(rng.randint(1, 3)):
        f = rng.choice(FIELDS)
        toks = " ".join(rng.choice(VOCAB)
                        for _ in range(rng.randint(1, 3)))
        clause[f] = toks if f not in clause else clause[f] + " " + toks
    if depth > 0 and rng.random() < 0.65:
        clause[rng.choice(["and", "or", "not"])] = _rand_clause(
            rng, depth - 1)
    return clause


def main() -> int:
    n_q = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260820
    n_convs = int(sys.argv[3]) if len(sys.argv) > 3 else 16384

    from pyspark.sql import functions as F

    from resin_spark.api import append_docs
    from resin_spark.build import build_index
    from resin_spark.executor import SearchEngine

    # one task slot and one shuffle partition per host core: more slots
    # than cores only adds scheduling overhead
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = make_session(f"local[{cores}]", "deep_fuzz",
                         shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="deep_fuzz_")
    root = f"{tmp}/idx"
    t0 = time.monotonic()
    t = transcripts_df_zipf(spark, n_convs=n_convs, max_turns=3)
    # a mixed index: the last eighth of the conversations is appended as
    # its own segment (by the driver-side writer while it fits
    # DRIVER_APPEND_MAX_ROWS).  Its conv_ids sort last, so every doc_id
    # equals the one a single build assigns.
    cut = F.col("conv_id") < f"conv{n_convs - n_convs // 8:08d}"
    build_index(spark, t.filter(cut), root, write_doclens=True)
    append_docs(spark, t.filter(~cut), root)
    rows = [r.asDict() for r in t.collect()]
    oracle = build_oracle_index(rows)
    print(f"corpus {len(rows)} turns, index+oracle built "
          f"in {time.monotonic() - t0:.1f} s", flush=True)

    engine = SearchEngine(spark, root)
    rng = random.Random(seed)
    fails = 0
    t0 = time.monotonic()
    for i in range(n_q):
        op = rng.choice(["and", "or", "and", "or", "not"])
        query = {op: _rand_clause(rng, rng.randint(0, 3))}
        k = rng.choice([1, 5, 10, 10, 50])
        skip = rng.choice([0, 0, 0, 3, 17])
        want = oracle_search(oracle, query, k=k, skip=skip)
        # per-query strategy subset: the two driver routes always (cheap,
        # embedded), plus 2 of the 4 Spark-side routes — every strategy
        # still sees ~half the family
        strats = ["driver", "driver_sparkio"] + rng.sample(
            ["distributed", "and_pruned", "blockmax", "and_blockmax"], 2)
        for s in strats:
            with forced_strategy(engine, s):
                got = engine.topk(query, k=k, skip=skip)
                repeat = rng.random() < 0.25  # warm/LRU second pass
                if repeat:
                    got = engine.topk(query, k=k, skip=skip)
            ok = ([h[0] for h in got] == [h[0] for h in want]
                  and all(math.isclose(s1, s2, rel_tol=0, abs_tol=1e-9)
                          for (_, s1), (_, s2) in zip(got, want)))
            if not ok:
                fails += 1
                print(f"MISMATCH qid={i} strategy={s} k={k} skip={skip}"
                      f"{' (warm repeat)' if repeat else ''}\n"
                      f"  query={query!r}\n  got ={got[:5]!r}\n"
                      f"  want={want[:5]!r}", flush=True)
                if fails >= 5:
                    print(f"aborting after {fails} mismatches "
                          f"(seed={seed})")
                    return 1
        if rng.random() < 0.05:
            engine.clear_cache()  # re-cold the LRUs mid-run
        if (i + 1) % 50 == 0:
            print(f"{i + 1}/{n_q} queries fuzzed "
                  f"({time.monotonic() - t0:.0f} s)", flush=True)

    # phrase family: expected = AND-ranked order restricted to docs whose
    # tokenized text contains the adjacent token run (tests/test_phrase
    # semantics), under the default strategy + one forced Spark route
    by_key = {(r["conv_id"], r["turn_idx"]): r for r in rows}
    p_fail = 0
    for i in range(40):
        toks = [rng.choice(VOCAB) for _ in range(rng.randint(2, 3))]
        phrase = " ".join(toks)
        and_hits = oracle_search(oracle, {"and": {"text": phrase}}, k=0)
        want_keys = []
        for key, _s in and_hits:
            tt = tokenize_py(by_key[key]["text"])
            if any(tt[j:j + len(toks)] == toks
                   for j in range(len(tt) - len(toks) + 1)):
                want_keys.append(key)
        want_keys = want_keys[:10]
        for s in ("driver", rng.choice(["distributed", "driver_sparkio"])):
            with forced_strategy(engine, s):
                got = engine.phrase_search(
                    phrase, k=10, select=["conv_id", "turn_idx"]).collect()
            got_keys = [(r["conv_id"], r["turn_idx"]) for r in got]
            if got_keys != want_keys:
                p_fail += 1
                print(f"PHRASE MISMATCH qid=p{i} strategy={s} "
                      f"phrase={phrase!r}\n  got ={got_keys!r}\n"
                      f"  want={want_keys!r}", flush=True)
    print(f"done: {n_q} boolean + 40 phrase queries, "
          f"{fails + p_fail} mismatches, {time.monotonic() - t0:.0f} s "
          f"(seed={seed})")
    spark.stop()
    return 1 if (fails or p_fail) else 0


if __name__ == "__main__":
    raise SystemExit(main())
