"""Exact-phrase retrieval (SearchEngine.phrase_search).

The reference scores "phrase queries" (/root/reference/README.md:34) as
term BAGS — no positional data exists in SearchSession.  phrase_search is
the beyond-reference adjacency-enforcing form: its result must be exactly
search()'s AND ranking restricted to docs whose tokenizer-normalized text
contains the space-joined phrase, under every physical strategy.
"""

import math

from resin_spark.reference import oracle_search
from resin_spark.tokenizer import tokenize_py


def _phrase_expected(fixture_rows, oracle, phrase, field="text", k=10, skip=0):
    toks = tokenize_py(phrase)
    needle = " " + " ".join(toks) + " "
    match = {
        (r["conv_id"], r["turn_idx"])
        for r in fixture_rows
        if needle in " " + " ".join(tokenize_py(r.get(field) or "")) + " "
    }
    and_hits = oracle_search(oracle, {"and": {field: phrase}}, k=0)
    kept = [h for h in and_hits if h[0] in match]
    return kept[skip:] if k == 0 else kept[skip:skip + k]


def _collect(df):
    rows = df.collect()
    return [((r["conv_id"], r["turn_idx"]), r["score"]) for r in rows]


def _assert_hits(got, want, tag):
    assert [h[0] for h in got] == [h[0] for h in want], tag
    for (k1, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=0, abs_tol=1e-9), (tag, k1, s1, s2)


def test_phrase_matches_oracle_all_strategies(engine_s, fixture_rows, oracle):
    for phrase in ("banana cantalope", "apple banana", "the a"):
        want = _phrase_expected(fixture_rows, oracle, phrase)
        got = _collect(engine_s.phrase_search(
            phrase, k=10, select=["conv_id", "turn_idx"]))
        _assert_hits(got, want, phrase)


def test_phrase_matches_oracle_mixed_index(mixed_engine_s, fixture_rows,
                                           oracle):
    """The same on an index mixing Spark-built and driver-appended
    segments."""
    test_phrase_matches_oracle_all_strategies(mixed_engine_s, fixture_rows,
                                              oracle)


def test_phrase_is_strict_subset_of_and(engine, fixture_rows, oracle):
    """Adjacency must actually prune: the phrase result is a proper
    subset of the bag-AND result on a phrase whose terms co-occur
    non-adjacently somewhere in the fixture."""
    phrase = "term97 hotterm"
    and_keys = {h[0] for h in oracle_search(
        oracle, {"and": {"text": phrase}}, k=0)}
    phrase_keys = {
        h[0] for h in _phrase_expected(fixture_rows, oracle, phrase, k=0)}
    assert phrase_keys and phrase_keys < and_keys, (
        "fixture must contain adjacent AND non-adjacent co-occurrences")
    got = {h[0] for h in _collect(engine.phrase_search(
        phrase, k=0, select=["conv_id", "turn_idx"]))}
    assert got == phrase_keys


def test_phrase_single_token_equals_term_query(engine, oracle):
    want = oracle_search(oracle, {"and": {"text": "banana"}}, k=10)
    got = _collect(engine.phrase_search(
        "banana", k=10, select=["conv_id", "turn_idx"]))
    _assert_hits(got, want, "single")


def test_phrase_paging_and_empty(engine, fixture_rows, oracle):
    want = _phrase_expected(fixture_rows, oracle, "banana cantalope",
                            k=3, skip=2)
    got = _collect(engine.phrase_search(
        "banana cantalope", k=3, skip=2, select=["conv_id", "turn_idx"]))
    _assert_hits(got, want, "paged")
    assert _collect(engine.phrase_search("???", k=10)) == []
    assert _collect(engine.phrase_search(
        "banana zzznope", k=10, select=["conv_id", "turn_idx"])) == []
