"""Expected results for the benchmark's queries: ``resin_spark.reference``'s
index over the rows the program was given, ranked by
``reference.oracle_search``.
"""

from __future__ import annotations

from resin_spark.query import parse_query, query_terms
from resin_spark.reference import build_oracle_index, oracle_search
from resin_spark.tokenizer import tokenize_py

Hit = tuple[tuple[str, int], float]


def holds(toks: list[str], phrase: list[str]) -> bool:
    """``phrase`` occurs in ``toks`` as consecutive tokens."""
    n = len(phrase)
    return any(toks[i:i + n] == phrase for i in range(len(toks) - n + 1))


class Oracle:
    def __init__(self, frame):
        self.idx = build_oracle_index(frame.to_dict("records"))
        self._cache: dict[str, list[Hit]] = {}

    def search(self, query: dict, k: int) -> list[Hit]:
        ck = f"s{k}:{query}"
        if ck not in self._cache:
            self._cache[ck] = oracle_search(self.idx, query, k=k)
        return self._cache[ck]

    def sum_df(self, query: dict) -> int:
        """Σ df over the query's distinct (field, term) keys."""
        keys = {(t.field, t.token) for t in query_terms(parse_query(query))}
        return sum(len(self.idx.postings.get(f, {}).get(t, {}))
                   for f, t in keys)

    def phrase(self, phrase: str, k: int) -> list[Hit]:
        """search()'s AND ranking restricted to rows holding the phrase's
        tokens consecutively (the phrase_search contract,
        ``tests/test_phrase.py``)."""
        ck = f"p{k}:{phrase}"
        if ck not in self._cache:
            words = tokenize_py(phrase)
            kept = []
            for h in self.search({"and": {"text": phrase}}, k=0):
                if holds(tokenize_py(self.idx.docs[h[0]]["text"]), words):
                    kept.append(h)
                    if len(kept) == k:
                        break
            self._cache[ck] = kept
        return self._cache[ck]
