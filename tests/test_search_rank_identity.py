"""Rank-identity: Spark top-k == oracle top-k (docIDs exact, scores within
1e-9, same deterministic tie-break) on the FIXTURES.md §3 query set."""

import math

import pytest

from resin_spark.fixtures import FILLER_WORDS, FRUIT_WORDS
from resin_spark.reference import oracle_search

QUERIES = (
    # q01..q11: single-term lookups over the reference vocabulary
    [(f"q{i+1:02d}", {"or": {"collection": "transcripts", "text": w}}, {})
     for i, w in enumerate(FRUIT_WORDS)]
    + [
        ("q12", {"and": {"collection": "transcripts", "text": "banana cantalope"}}, {}),
        ("q13", {"or": {"collection": "transcripts", "text": "apple banana"}}, {}),
        ("q14", {"and": {"collection": "transcripts", "text": "apple",
                          "not": {"text": "apples"}}}, {}),
        ("q15", {"and": {"collection": "transcripts", "text": "hotterm"}}, {}),
        ("q16", {"or": {"collection": "transcripts",
                         "text": "ferriman gallwey score"}}, {}),
        ("q17", {"and": {"collection": "transcripts", "text": "banana cantalope"}},
         {"skip": 5, "k": 5}),
        ("q19", {"and": {"collection": "transcripts", "role": "tool",
                          "and": {"text": "search"}}}, {}),
        # extra coverage beyond the fixture list
        ("x_and3", {"and": {"text": "banana apple the"}}, {}),
        ("x_or3", {"or": {"text": "vector space index"}}, {}),
        ("x_not_chain", {"or": {"text": "apple apples",
                                 "not": {"text": "banana"}}}, {}),
        ("x_missing_and", {"and": {"text": "apple zzznope"}}, {}),
        ("x_take0", {"and": {"text": "blueberries"}}, {"k": 0}),
        # AND sub-clause whose value tokenizes to NOTHING: Resin merges
        # the empty fresh dict under AND, clearing the result (both
        # engines must return [])
        ("x_empty_tokens_and", {"and": {"text": "apple", "and": {"text": "???"}}}, {}),
        # pure nesting container under AND: same clearing rule applies
        ("x_container_and", {"or": {"text": "apple",
                                    "and": {"or": {"text": "banana"}}}}, {}),
        # sub-clause with only unmatched terms under AND also clears
        ("x_unmatched_subclause", {"and": {"text": "apple",
                                           "and": {"text": "zzznope"}}}, {}),
        # a clause that intersects to EMPTY (uterm0/uterm1 are planted in
        # distinct single turns) must behave like Resin's empty dict for
        # the NEXT merge: insert-all, not inner-join-against-empty
        ("x_emptied_then_and", {"and": {"text": "uterm0 uterm1",
                                        "and": {"text": "banana"}}}, {}),
        ("x_emptied_then_or", {"and": {"text": "uterm0 uterm1",
                                       "or": {"text": "apple"}}}, {}),
        # more keys than the driver path's 64-bit class mask holds: every
        # strategy runs the distributed class fold (70 fixture-vocabulary
        # tokens plus three that never occur)
        ("x_wide_or_73_keys", {"or": {"text": " ".join(
            FRUIT_WORDS + FILLER_WORDS[:59] + ["zzznope", "qqnada", "nothere"])}},
         {}),
        # one key used twice in the clause tree: the class's weight list
        # is S[m] = (0, 0), the same weight summed twice
        ("x_repeated_key", {"or": {"text": "apple",
                                   "and": {"text": "apple"}}}, {}),
    ]
)


def _assert_rank_identical(spark_hits, oracle_hits, qid):
    assert [h[0] for h in spark_hits] == [h[0] for h in oracle_hits], qid
    for (k1, s1), (k2, s2) in zip(spark_hits, oracle_hits):
        assert math.isclose(s1, s2, rel_tol=0, abs_tol=1e-9), (qid, k1, s1, s2)


@pytest.mark.parametrize("qid,query,kw", QUERIES, ids=[q[0] for q in QUERIES])
def test_rank_identity(engine_s, oracle, qid, query, kw):
    k = kw.get("k", 10)
    skip = kw.get("skip", 0)
    got = engine_s.topk(query, k=k, skip=skip)
    want = oracle_search(oracle, query, k=k, skip=skip)
    _assert_rank_identical(got, want, qid)


@pytest.mark.parametrize("qid,query,kw", QUERIES, ids=[q[0] for q in QUERIES])
def test_rank_identity_mixed_index(mixed_engine_s, oracle, qid, query, kw):
    """Same ranks and scores on an index whose segments were written by
    both the Spark build and the driver-side append writer."""
    test_rank_identity(mixed_engine_s, oracle, qid, query, kw)


def test_q18_select_projection(engine, oracle):
    """q18: select=[conv_id, turn_idx, role] projection."""
    df = engine.search({"or": {"text": "apple"}}, k=10,
                       select=["conv_id", "turn_idx", "role"])
    rows = df.collect()
    assert rows
    assert set(rows[0].asDict().keys()) == {"conv_id", "turn_idx", "role", "score"}
    want = oracle_search(oracle, {"or": {"text": "apple"}}, k=10)
    assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [k for k, _ in want]


def test_charbag_identity_anagrams(engine, oracle):
    """Resin char-bag identity: 'listen' query matches docs containing
    'silent'/'enlist' (one merged node).  Spark vs an oracle over the
    charbag-transformed index."""
    from resin_spark.reference import OracleIndex

    # build charbag oracle: merge postings by chars_key
    from resin_spark.tokenizer import chars_key_py

    cb = OracleIndex(
        n_docs=oracle.n_docs,
        doclens=oracle.doclens,
        total_tokens=oracle.total_tokens,
        docs=oracle.docs,
    )
    for fld, terms in oracle.postings.items():
        out = cb.postings.setdefault(fld, {})
        for term, plist in terms.items():
            key = chars_key_py(term)
            dst = out.setdefault(key, {})
            for dk, tf in plist.items():
                dst[dk] = dst.get(dk, 0) + tf

    got = engine.topk({"or": {"text": "listen"}}, k=10, term_identity="charbag")
    want = oracle_search(cb, {"or": {"text": "eilnst"}}, k=10)
    _assert_rank_identical(got, want, "charbag")
    # and the merged postings really include silent/enlist docs
    merged_docs = {k for k, _ in oracle_search(cb, {"or": {"text": "eilnst"}}, k=0)}
    silent_docs = {k for k, _ in oracle_search(oracle, {"or": {"text": "silent"}}, k=0)}
    assert silent_docs <= merged_docs


def test_self_retrieval_spark(engine, fixture_rows):
    planted = {}
    for r in fixture_rows:
        for tok in r["text"].split():
            if tok.startswith("uterm"):
                planted[tok] = (r["conv_id"], r["turn_idx"])
    for tok, key in list(planted.items())[:4]:
        hits = engine.topk({"or": {"text": tok}}, k=1)
        assert hits and hits[0][0] == key, tok


def test_driver_fast_path_taken_when_eligible(engine, oracle, monkeypatch):
    """An eligible query (df mirror present, tiny Σdf) must be answered
    entirely by the driver-scored path — the distributed fold must not
    run — and still match the oracle."""
    def boom(*a, **kw):
        raise AssertionError("distributed _ranked ran on an eligible query")

    monkeypatch.setattr(engine, "_ranked", boom)
    got = engine.topk({"and": {"text": "banana", "not": {"text": "apples"}}},
                      k=10)
    want = oracle_search(
        oracle, {"and": {"text": "banana", "not": {"text": "apples"}}}, k=10)
    _assert_rank_identical(got, want, "driver_fast_path")


def test_driver_fast_path_gates_closed(engine, monkeypatch):
    """Over the Σdf cap (or without the mirror) search must fall back to
    the distributed fold."""
    calls = []
    orig = engine._ranked

    def spy(q, ti):
        calls.append(1)
        return orig(q, ti)

    monkeypatch.setattr(engine, "_ranked", spy)
    monkeypatch.setattr(engine, "_DRIVER_SCORE_MAX_POSTINGS", -1)
    engine.search({"or": {"text": "banana"}}, k=5).collect()
    assert calls, "gate closed but distributed path not used"


def test_and_block_pruned_path(engine, oracle, monkeypatch):
    """Pure-AND over the Σdf cap: the block-pruned driver path answers
    (distributed fold must not run), later keys collect with a block
    restriction, and results match the oracle."""
    q = {"and": {"text": "apple banana"}}
    want = oracle_search(oracle, q, k=10)
    assert want, "fixture must have a nonempty AND result"

    seen_blocks = []
    orig = engine._collect_key_postings

    def spy(key, blocks, **kw):
        seen_blocks.append(blocks)
        return orig(key, blocks, **kw)

    def boom(*a, **kw):
        raise AssertionError("distributed fold ran for the AND path")

    monkeypatch.setattr(engine, "_collect_key_postings", spy)
    monkeypatch.setattr(engine, "_ranked", boom)
    monkeypatch.setattr(engine, "_DRIVER_SCORE_MAX_POSTINGS", 0)
    got = engine.topk(q, k=10)
    _assert_rank_identical(got, want, "and_block_pruned")
    assert seen_blocks[0] is None  # seed key scans unrestricted
    assert len(seen_blocks) >= 2 and seen_blocks[1] is not None
    assert all(isinstance(b, int) for b in seen_blocks[1])


def test_and_block_pruned_empty_intersection_falls_back(engine, oracle,
                                                        monkeypatch):
    """An emptied intermediate intersection may restart Resin's fold with
    re-inserted postings — the pruned path must fall back to the
    distributed fold there (and still match the oracle, which exercises
    the re-insert quirk on this query)."""
    q = {"and": {"text": "apples qqnada tool index"}}
    want = oracle_search(oracle, q, k=10)
    assert want, "quirk query must be nonempty via the re-insert rule"

    calls = []
    orig = engine._ranked

    def spy(qq, ti):
        calls.append(1)
        return orig(qq, ti)

    monkeypatch.setattr(engine, "_ranked", spy)
    monkeypatch.setattr(engine, "_DRIVER_SCORE_MAX_POSTINGS", 0)
    got = engine.topk(q, k=10)
    _assert_rank_identical(got, want, "and_quirk_fallback")
    assert calls, "expected the distributed fold after the empty intersection"


def test_wide_or_single_score_expression(spark, engine, oracle,
                                         fixture_rows):
    """A 12-key static fold enumerates all 4095 classes, so the score
    must not grow with the class count: an expression tree per class
    overflowed Catalyst's analyzer stack on this shape (deep_fuzz seed
    555).  Pins the one fixed-size aggregate score expression and the
    wide-OR ranking through the distributed fold against the oracle."""
    from resin_spark.query import parse_query

    q = {"or": {"text": "apple apples banana cantalope the a hotterm "
                        "uterm0 uterm1 uterm2 uterm3 uterm4"}}
    want = oracle_search(oracle, q, k=10)
    assert want
    # the score projection (top node of the analyzed plan): one
    # aggregate over the class's key list, no per-class branches
    top = (engine._ranked(parse_query(q), "surface")
           ._jdf.queryExecution().analyzed().simpleString(1 << 20))
    assert top.startswith("Project") and top.count("aggregate(") == 1, top
    assert "CASE WHEN" not in top and "map(" not in top, top
    engine._DRIVER_SCORE_MAX_POSTINGS = -1  # force the distributed fold
    try:
        got = engine.topk(q, k=10)
    finally:
        del engine.__dict__["_DRIVER_SCORE_MAX_POSTINGS"]
    _assert_rank_identical(got, want, "wide_or_single_score")
