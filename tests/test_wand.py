"""Block-max WAND parity: pruned top-k must equal the exhaustive top-k
exactly (docIDs and scores) — WAND is an optimization, never a semantics
change (SURVEY.md §4.2.3)."""

import math

import pytest

from resin_spark import wand


CASES = [
    (["banana"], "or"),
    (["apple", "banana"], "or"),
    (["banana", "cantalope"], "and"),
    (["hotterm"], "or"),              # skewed posting list
    (["hotterm", "apple"], "and"),
    (["the", "a", "apple"], "or"),
    (["zzznope"], "or"),              # no matches
]


@pytest.mark.parametrize("tokens,mode", CASES,
                         ids=[f"{'+'.join(t)}:{m}" for t, m in CASES])
def test_wand_equals_exact(spark, engine, tokens, mode):
    got, stats = wand.wand_topk(spark, engine.root, tokens, k=10, mode=mode)
    want, _ = wand.wand_topk(spark, engine.root, tokens, k=10, mode=mode,
                             exact=True)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=0, abs_tol=1e-12)
    assert stats["blocks_scored"] <= stats["blocks_total"]


def test_wand_prunes_on_zipf_corpus(spark, tmp_path):
    """On a corpus with real block-bound variance (Zipf df, dl spread,
    doc_id-localized term bursts — fixtures.transcripts_df_zipf) the
    block-max bounds must actually PRUNE: fewer than half the matched
    blocks are decoded, while the top-k stays rank- and score-identical
    to the exhaustive scorer.  Mirrors the exactness contract of the
    reference's skip-tree traversal
    (/root/reference/src/Sir.VectorSpace/ColumnReader.cs:168-179)."""
    from resin_spark import build as B
    from resin_spark.fixtures import transcripts_df_zipf

    root = str(tmp_path / "zipf_idx")
    t = transcripts_df_zipf(spark, n_convs=64000, max_turns=3)
    B.build_index(spark, t, root, fields=("text",))

    for tokens, mode in ([["wandhot"], "or"],
                         [["wandhot", "wandwarm"], "or"],
                         [["wandhot", "wandwarm"], "and"]):
        got, stats = wand.wand_topk(spark, root, tokens, k=10, mode=mode)
        want, _ = wand.wand_topk(spark, root, tokens, k=10, mode=mode,
                                 exact=True)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, s1), (_, s2) in zip(got, want):
            assert math.isclose(s1, s2, rel_tol=0, abs_tol=1e-12)
        assert stats["blocks_total"] >= 16
        assert stats["blocks_scored"] < 0.5 * stats["blocks_total"], (
            tokens, mode, stats)

    # the AND block-pruned driver path on the same corpus: the burst-only
    # rare term (wandrare) seeds, so the broad term (wandhot) collects
    # only the burst-range blocks — measurably fewer postings than its
    # df — with hits identical to the unpruned engine
    from resin_spark.executor import SearchEngine

    q = {"and": {"text": "wandhot wandrare"}}
    base = SearchEngine(spark, root, fields=("text",))
    want_hits = base.topk(q, k=10)
    pruned = SearchEngine(spark, root, fields=("text",))
    pruned._DRIVER_SCORE_MAX_POSTINGS = 0
    got_hits = pruned.topk(q, k=10)
    assert got_hits == want_hits
    st = pruned.last_and_stats
    dfm = pruned._term_df_driver_map()
    hot_df = dfm[("text", "wandhot")]
    hot = st[("text", "wandhot")]
    assert hot["blocks_filter"] is not None  # scan was block-restricted
    assert hot["postings_collected"] < 0.7 * hot_df, (st, hot_df)
    assert st[("text", "wandrare")]["blocks_filter"] is None  # seed

    # warm repeat: the seed's FULL read was cached, so the repeat serves
    # it from the term LRU; the broad term's PARTIAL restricted read
    # (<0.7 df above) must NOT have been cached — a partial collect is
    # specific to one query's intersection — so its restricted read
    # re-runs
    got2 = pruned.topk(q, k=10)
    assert got2 == want_hits
    st2 = pruned.last_and_stats
    assert st2[("text", "wandrare")].get("lru_hit"), st2
    assert not st2[("text", "wandhot")].get("lru_hit"), st2

    # block-max SINGLE-term driver path on the same corpus: blocks decode
    # in upper-bound order (the bursty tf=6 early-conv blocks first) and
    # iteration stops once the k-th hit beats every unread bound — hits
    # identical to the full-decode engine, most blocks never read.  A
    # lone term takes the path whichever op it carries.
    bm = SearchEngine(spark, root, fields=("text",))
    bm._BLOCKMAX_MIN_POSTINGS = 0
    bm._BLOCKMAX_FLAT_MIN_POSTINGS = 0
    bm._term_lru.budget = 0  # no lru_warm repeat: keep the route forced
    for op in ("and", "or"):
        for skip in (0, 5):
            bm.last_blockmax_stats = None
            got_bm = bm.topk({op: {"text": "wandhot"}}, k=10, skip=skip)
            want_bm = base.topk({op: {"text": "wandhot"}}, k=10, skip=skip)
            assert got_bm == want_bm, (op, skip)
            stb = bm.last_blockmax_stats
            assert stb is not None and stb["blocks_total"] >= 16, op
            assert stb["blocks_scored"] < 0.5 * stb["blocks_total"], (
                op, skip, stb)
    assert stb["postings_decoded"] < hot_df

    # flat-OR block-max driver path (multi-term): Resin's order-sensitive
    # OR admits docs only from the first matched term, so the candidate
    # set is anchor-sized.  (a) rare anchor OR hot term: only the rare
    # term's conv blocks are read — the hot term's postings outside them
    # never decode; (b) hot anchor OR warm term: bound-ordered decode
    # early-terminates like the single hot term.  Hits identical to the
    # full-decode engine in both orders, including paging.
    bm.last_blockmax_stats = None
    for phrase in ("wandrare wandhot", "wandhot wandwarm"):
        for skip in (0, 5):
            got_or = bm.topk({"or": {"text": phrase}}, k=10, skip=skip)
            want_or = base.topk({"or": {"text": phrase}}, k=10, skip=skip)
            assert got_or == want_or, (phrase, skip)
    bm.last_blockmax_stats = None
    bm.topk({"or": {"text": "wandrare wandhot"}}, k=10)
    st_rare = bm.last_blockmax_stats
    assert st_rare is not None  # the flat-OR path actually engaged
    # only the rare anchor's conv blocks decode — but those ARE the hot
    # term's burst blocks (densest), so compare against the full Σdf the
    # standard path would decode, not against hot_df alone
    rare_df = dfm[("text", "wandrare")]
    assert st_rare["postings_decoded"] < 0.5 * (hot_df + rare_df), st_rare
    assert st_rare["blocks_total"] < 0.5 * stb["blocks_total"], (
        st_rare, stb)  # anchor blocks, not every hot block
    bm.last_blockmax_stats = None
    bm.topk({"or": {"text": "wandhot wandwarm"}}, k=10)
    st_hot = bm.last_blockmax_stats
    assert st_hot is not None and st_hot["blocks_total"] >= 16
    assert st_hot["blocks_scored"] < 0.5 * st_hot["blocks_total"], st_hot

    # flat-AND block-max driver path (the hot-AND case the seed-capped
    # pruned path refuses): force both the Σdf cap and the seed cap to 0
    # so every pure-AND routes through the bound-ordered intersection
    # decode — hits identical to the full-decode engine, early blocks
    # (the co-burst range) terminate the scan
    abm = SearchEngine(spark, root, fields=("text",))
    abm._DRIVER_SCORE_MAX_POSTINGS = 0
    abm._AND_SEED_MAX_POSTINGS = 0
    for skip in (0, 5):
        q_and = {"and": {"text": "wandhot wandwarm"}}
        assert abm.topk(q_and, k=10, skip=skip) == base.topk(
            q_and, k=10, skip=skip), skip
    st_and = abm.last_blockmax_stats
    assert st_and is not None and st_and["blocks_total"] >= 16
    assert st_and["blocks_scored"] < 0.5 * st_and["blocks_total"], st_and
    # a nested pure-AND chain (the q_multifield shape) routes through the
    # same path with the fold order preserved
    q_nest = {"and": {"text": "wandwarm", "and": {"text": "wandhot"}}}
    assert abm.topk(q_nest, k=10) == base.topk(q_nest, k=10)

    # flat NOT rides both block-max paths: NOT is the LAST fold step,
    # the negative union decodes only inside candidate blocks, removal
    # happens before the top-k — hits identical to the full-decode
    # engine under both the OR (bm) and AND (abm) routings, incl. paging
    not_cases = (
        {"or": {"text": "wandrare wandhot", "not": {"text": "wandwarm"}}},
        {"or": {"text": "wandhot", "not": {"text": "wandrare"}}},
        {"or": {"text": "wandhot", "not": {"text": "wandhot"}}},  # empty
        {"and": {"text": "wandhot", "not": {"text": "wandwarm"}}},
        {"and": {"text": "wandhot wandwarm", "not": {"text": "wandrare"}}},
        # NOT empties a NONEMPTY intersection: true result is [], must
        # not bounce to the quirk fallback (pos_any discrimination)
        {"and": {"text": "wandhot wandwarm", "not": {"text": "wandhot"}}},
    )
    for qd in not_cases:
        for skip in (0, 5):
            assert bm.topk(qd, k=10, skip=skip) == base.topk(
                qd, k=10, skip=skip), (qd, skip)
            assert abm.topk(qd, k=10, skip=skip) == base.topk(
                qd, k=10, skip=skip), (qd, skip)
    # single positive + NOT engages the flat path and still prunes
    bm.last_blockmax_stats = None
    bm.topk({"or": {"text": "wandhot", "not": {"text": "wandrare"}}}, k=10)
    st_not = bm.last_blockmax_stats
    assert st_not is not None and st_not["blocks_total"] >= 16
    assert st_not["blocks_scored"] < 0.5 * st_not["blocks_total"], st_not

    # or_q CHAIN flattening: clauses with at most one matched term are
    # boost-only merges (the OR merge adopts incoming only on an empty
    # accumulator), so the chain rides the flat block-max path — hits
    # identical to the full-decode engine, candidate set still
    # anchor-sized.  Covered shapes: single-term chain, chain-node flat
    # NOT, unmatched top anchor (the first matched CHAIN term admits),
    # and the non-flattenable multi-matched-term clause must NOT route.
    chain_cases = (
        {"or": {"text": "wandrare", "or": {"text": "wandhot"}}},
        {"or": {"text": "wandhot",
                "or": {"text": "wandwarm", "not": {"text": "wandrare"}}}},
        {"or": {"text": "wandrare",
                "or": {"text": "wandhot", "or": {"text": "wandwarm"}}}},
        {"or": {"text": "zzznope", "or": {"text": "wandhot"}}},
    )
    for qd in chain_cases:
        for skip in (0, 5):
            bm.clear_cache()
            bm.last_blockmax_stats = None
            assert bm.topk(qd, k=10, skip=skip) == base.topk(
                qd, k=10, skip=skip), (qd, skip)
            assert bm.last_blockmax_stats is not None, qd  # path engaged
    bm.clear_cache()
    bm.last_blockmax_stats = None
    bm.topk({"or": {"text": "wandrare", "or": {"text": "wandhot"}}}, k=10)
    st_chain = bm.last_blockmax_stats
    assert st_chain is not None  # anchor-sized candidate set: rare blocks
    assert st_chain["blocks_total"] < 0.5 * stb["blocks_total"], st_chain
    q_multi = {"or": {"text": "wandrare",
                      "or": {"text": "wandhot wandwarm"}}}
    bm.last_blockmax_stats = None
    assert bm.topk(q_multi, k=10) == base.topk(q_multi, k=10)
    assert bm.last_blockmax_stats is None  # 2-matched-term clause: no flatten


def test_wand_disjunction_matches_python(spark, engine, oracle):
    """Full-disjunction semantics vs a brute-force python computation."""
    tokens = ["apple", "banana"]
    got, _ = wand.wand_topk(spark, engine.root, tokens, k=10, mode="or")

    # brute force from the oracle index (standard disjunctive BM25)
    import math as m

    scores = {}
    for t in tokens:
        plist = oracle.postings["text"].get(t, {})
        for key in plist:
            scores[key] = scores.get(key, 0.0) + oracle.weight("text", t, key)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:10]

    docs = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
            for r in engine.documents().select("conv_id", "turn_idx", "doc_id").collect()}
    want_ids = [docs[k] for k, _ in want]
    assert [d for d, _ in got] == want_ids
    for (_, s1), (_, s2) in zip(got, want):
        assert m.isclose(s1, s2, rel_tol=0, abs_tol=1e-9)


def test_blockmax_caches(spark, engine):
    """The block-max warm machinery: (1) per-term block-stats bound
    arrays are LRU-cached, so a repeat block-max query performs no new
    stats scan; (2) a block-max run that decodes EVERY block is a FULL
    decode and feeds the term LRU with exactly the standard read path's
    merged arrays; (3) the repeat query then takes the lru_warm fast
    path (in-memory fold — identical hits, no block re-read); once the
    term LRU is emptied, block-max re-engages and the stats LRU still
    serves its bounds (no new stats scan), for the single-term and the
    flat-OR query alike; (4) clear_cache() restores cold behavior so
    bench cold trials stay honest."""
    from resin_spark.executor import SearchEngine

    engine.clear_cache()
    engine._BLOCKMAX_MIN_POSTINGS = 0
    engine._BLOCKMAX_FLAT_MIN_POSTINGS = 0
    try:
        q = {"or": {"text": "banana"}}
        # k past the term's df => the stop rule can never fire early =>
        # guaranteed full decode
        h1 = engine.topk(q, k=1000)
        st = engine.last_blockmax_stats
        assert st is not None
        assert st["blocks_scored"] == st["blocks_total"]
        got = engine._term_lru.get(("text", "banana"))
        assert got is not None  # full decode entered the term LRU
        base = SearchEngine(spark, engine.root)
        ref = base._collect_key_postings(("text", "banana"), None)
        assert all((a == b).all() for a, b in zip(got, ref))
        m1 = engine.stats_lru_misses
        engine.last_blockmax_stats = None
        assert engine.topk(q, k=1000) == h1
        # warm repeat: lru_warm fast path — no block-max, no stats scan
        assert engine.last_blockmax_stats is None
        assert engine.stats_lru_misses == m1
        # term LRU emptied: block-max re-engages, stats LRU serves it
        engine._term_lru.clear()
        assert engine.topk(q, k=1000) == h1
        assert engine.last_blockmax_stats is not None
        assert engine.stats_lru_misses == m1
        # flat-OR path shares the same stats LRU per key
        engine.clear_cache()
        m2 = engine.stats_lru_misses
        q2 = {"or": {"text": "banana apple"}}
        h2 = engine.topk(q2, k=10)
        assert engine.stats_lru_misses == m2 + 2
        # the first run fully decoded both keys into the term LRU; empty
        # it so the repeat runs the flat-OR block-max decode again
        engine._term_lru.clear()
        engine.last_blockmax_stats = None
        assert engine.topk(q2, k=10) == h2
        assert engine.last_blockmax_stats is not None
        assert engine.stats_lru_misses == m2 + 2
        # cold again after clear_cache()
        engine.clear_cache()
        assert engine.topk(q, k=1000) == h1
        assert engine.stats_lru_misses > m2 + 2
    finally:
        del engine.__dict__["_BLOCKMAX_MIN_POSTINGS"]
        del engine.__dict__["_BLOCKMAX_FLAT_MIN_POSTINGS"]
        engine.clear_cache()


def test_and_pruned_restricted_reads_use_term_lru(spark, index_root):
    """Warm repeats of the over-cap AND path (the q_multifield bench
    shape) serve EVERY key from the term LRU: the seed's full read
    caches as before, and a restricted read that returned the term's
    entire df (single-block fixture: the candidate block list covers
    every posting; n_postings and the mirror df are the same Σ df_block
    quantity) is a full read and caches too — so the repeat does zero
    postings IO."""
    from resin_spark.executor import SearchEngine

    eng = SearchEngine(spark, index_root)
    eng._DRIVER_SCORE_MAX_POSTINGS = 0  # force the pruned AND route
    q = {"and": {"text": "apple hotterm"}}
    want = eng.topk(q, k=10)
    st1 = eng.last_and_stats
    assert st1 and not any(v.get("lru_hit") for v in st1.values()), st1
    got = eng.topk(q, k=10)
    assert got == want
    st2 = eng.last_and_stats
    assert st2 and all(v.get("lru_hit") for v in st2.values()), st2
