"""Seeded inputs for the benchmark: transcript corpora, append batches and
query streams.

Everything here is a pure function of the seed and the size settings. The
program under test sees only what these functions return: pandas frames of
transcript rows (the input-hint schema) and query dicts / phrase strings.

Words are synthetic lowercase alphanumeric strings, each a single token
under ``resin_spark.tokenizer``, so a corpus is kept as integer token ids,
from which the query pools pick words by popularity and phrases that occur.

The sizes and distributions are assumptions, not measurements: no query
log or corpus statistics exist in this repository or its source paper.
Word frequencies follow Zipf(1), the usual model of word frequency in text;
query popularity follows Zipf(1) over each shape's pool, the Zipf-like
popularity reported for search-engine query logs (Xie & O'Hallaron,
"Locality in Search Engine Queries and Its Implications for Caching",
INFOCOM 2002); every shape gets an equal share of the stream, as every
shape gets equal weight in ``bench.py``'s query list.  The exponents,
vocabulary size, turn lengths and pool size are guesses.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

ROLES = ("user", "assistant", "tool")
TOOLS = ("", "search", "calc")
SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 65
EPOCH = pd.Timestamp("2025-01-01")


def make_vocab(size: int, rng: np.random.Generator) -> list[str]:
    """``size`` distinct pseudo-words; the seed decides which word gets
    which popularity rank."""
    words = []
    n = len(SYLLABLES)
    for i in range(size):
        a, b, c = i % n, (i // n) % n, i // (n * n)
        words.append(SYLLABLES[a] + SYLLABLES[b] + (SYLLABLES[c] if c else ""))
    order = rng.permutation(size)
    return [words[j] for j in order]


def zipf_probs(n: int, s: float = 1.0) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


@dataclass
class Corpus:
    """Token-id form of every row of one collection, one array per
    appended batch (collections of one run share ``vocab``): text token
    ids and lengths, the turn index (which fixes the role) and the tool
    code."""
    vocab: list[str]
    n_words: int  # vocab[:n_words] are the Zipf-drawn words; planted after
    conv: list[str] = field(default_factory=list)
    turn: list[np.ndarray] = field(default_factory=list)
    tool: list[np.ndarray] = field(default_factory=list)  # index in TOOLS
    lens: list[np.ndarray] = field(default_factory=list)
    toks: list[np.ndarray] = field(default_factory=list)

    def add(self, conv_ids: list[str], turn: np.ndarray, tool: np.ndarray,
            lens: np.ndarray, toks: np.ndarray) -> None:
        self.conv.extend(conv_ids)
        self.turn.append(turn)
        self.tool.append(tool)
        self.lens.append(lens)
        self.toks.append(toks)

    @property
    def n_docs(self) -> int:
        return len(self.conv)


@dataclass
class Batch:
    frame: pd.DataFrame
    # planted word -> the one row that holds it
    planted: dict[str, tuple[str, int]]

    @property
    def turns(self) -> int:
        return len(self.frame)


def gen_batch(rng: np.random.Generator, corpus: Corpus, n_convs: int,
              prefix: str, doc_len: tuple[int, int],
              planted: tuple[str, ...] = ()) -> Batch:
    """``n_convs`` new conversations of 1-6 turns; text tokens are drawn
    Zipf(1) over the vocabulary.  Each ``planted`` word (outside the
    vocabulary) is appended to its own random row.  The rows are recorded
    in ``corpus`` in token-id form."""
    vocab = corpus.vocab
    n_words = corpus.n_words
    nt = rng.integers(1, 7, n_convs)
    n = int(nt.sum())
    conv_idx = np.repeat(np.arange(n_convs), nt)
    turn = np.concatenate([np.arange(k) for k in nt]).astype(np.int32)
    lens = rng.integers(doc_len[0], doc_len[1] + 1, n).astype(np.int64)
    toks = rng.choice(n_words, size=int(lens.sum()),
                      p=zipf_probs(n_words)).astype(np.int32)
    words = np.array(vocab, dtype=object)
    off = np.concatenate(([0], np.cumsum(lens)))
    text = [" ".join(words[toks[off[i]:off[i + 1]]]) for i in range(n)]
    rows = rng.choice(n, size=len(planted), replace=False).tolist()
    for word, row in sorted(zip(planted, rows), key=lambda wr: -wr[1]):
        # highest row first, so earlier offsets stay valid
        text[row] += " " + word
        vocab.append(word)
        toks = np.insert(toks, off[row + 1], len(vocab) - 1)
        lens[row] += 1
    conv_ids = [f"{prefix}{c:06d}" for c in conv_idx]
    role = np.array(ROLES, dtype=object)[turn % 3]
    tool = np.where(turn % 3 == 2, 1 + conv_idx % 2, 0).astype(np.int8)
    frame = pd.DataFrame({
        "conv_id": conv_ids,
        "turn_idx": turn,
        "role": role,
        "text": text,
        "tool": np.array(TOOLS, dtype=object)[tool],
        "ts": EPOCH + pd.to_timedelta(conv_idx * 3600 + turn * 7, unit="s"),
    })
    corpus.add(conv_ids, turn, tool, lens, toks)
    return Batch(frame, {w: (conv_ids[r], int(turn[r]))
                         for w, r in zip(planted, rows)})


# --------------------------------------------------------------- queries
SHAPES = ("single", "and", "or", "not", "multifield", "phrase")
# ops of each shape in every block of the stream: equal shares, an
# assumption (see the module docstring)
SHAPE_MIX = {s: 1 for s in SHAPES}


@dataclass(frozen=True)
class Op:
    shape: str
    query: object  # query dict, or the phrase string for "phrase"

    @property
    def key(self) -> str:
        return f"{self.shape}:{self.query}"


def stratified(rng: np.random.Generator, n: int,
               p: np.ndarray) -> np.ndarray:
    """``n`` draws from ``p``, one from each of ``n`` equal-mass strata of
    its CDF, so every seed draws the same spread of head and tail."""
    u = (np.arange(n) + rng.random(n)) / n
    return np.minimum(np.searchsorted(np.cumsum(p), u), len(p) - 1)


def gen_pool(rng: np.random.Generator, corpus: Corpus,
             per_shape: int) -> dict[str, list[Op]]:
    """``per_shape`` queries per shape, most common terms first.  The
    i-th query's first word comes from the i-th stratum of the corpus's
    own Zipf(1) word distribution, its second word from a shuffled
    stratum.  A phrase is a bigram of the corpus that starts with the
    stratum's word, so every phrase matches at least one row; of those
    bigrams it takes the one whose second word is nearest the shuffled
    stratum's word in popularity rank, so the phrases' cost (their words'
    postings) is spread alike in every seed."""
    vocab = corpus.vocab
    n_vocab = corpus.n_words
    p = zipf_probs(n_vocab)
    toks = np.concatenate(corpus.toks)
    # a bigram may not span two rows: mark each row's first token
    first = np.zeros(len(toks) + 1, dtype=bool)
    first[np.cumsum(np.concatenate(corpus.lens))] = True
    pool: dict[str, list[Op]] = {}
    for shape in SHAPES:
        ra = stratified(rng, per_shape, p)
        rb = rng.permutation(stratified(rng, per_shape, p))
        ops = []
        for i, (x, y) in enumerate(zip(ra.tolist(), rb.tolist())):
            if x == y:
                y = (y + 1) % n_vocab
            a, b = vocab[x], vocab[y]
            if shape == "single":
                op = Op(shape, {"and": {"text": a}})
            elif shape == "and":
                op = Op(shape, {"and": {"text": f"{a} {b}"}})
            elif shape == "or":
                op = Op(shape, {"or": {"text": f"{a} {b}"}})
            elif shape == "not":
                op = Op(shape, {"and": {"text": a, "not": {"text": b}}})
            elif shape == "multifield":
                op = Op(shape, {"and": {"text": a,
                                        "role": ROLES[i % len(ROLES)]}})
            else:
                at = np.flatnonzero(toks[:-1] == x)
                at = at[~first[at + 1] & (toks[at + 1] < n_vocab)]
                while not len(at):  # the word never starts a bigram
                    x = (x + 1) % n_vocab
                    at = np.flatnonzero(toks[:-1] == x)
                    at = at[~first[at + 1] & (toks[at + 1] < n_vocab)]
                j = int(at[np.argmin(np.abs(toks[at + 1] - y))])
                op = Op(shape, f"{vocab[x]} {vocab[int(toks[j + 1])]}")
            ops.append(op)
        pool[shape] = ops
    return pool


GOLDEN = (5 ** 0.5 - 1) / 2


def gen_stream(rng: np.random.Generator, pool: dict[str, list[Op]],
               n_ops: int, mix: dict[str, int] = SHAPE_MIX) -> list[Op]:
    """Closed-loop query stream: each block of ops holds every shape in
    ``mix`` proportion (shuffled).  Within a shape, queries follow Zipf(1)
    over the pool, so popular queries repeat; the draws are a golden-ratio
    sequence through the CDF, so every prefix of the stream is close to
    those shares whatever the seed."""
    block = [s for s, c in mix.items() for _ in range(c)]
    cdf = {s: np.cumsum(zipf_probs(len(pool[s]))) for s in mix}
    u = {s: rng.random() for s in mix}
    out: list[Op] = []
    while len(out) < n_ops:
        for shape in rng.permutation(block).tolist():
            j = int(np.searchsorted(cdf[shape], u[shape]))
            out.append(pool[shape][min(j, len(pool[shape]) - 1)])
            u[shape] = (u[shape] + GOLDEN) % 1.0
    return out[:n_ops]
