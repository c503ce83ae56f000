"""Tokenizer — faithful to Resin's BagOfCharsModel.Tokenize semantics.

Reference: /root/reference/src/Sir.Search/Models/BagOfCharsModel.cs:18-67 —
lowercase each char; a token is a maximal run of letter-or-digit characters
(Unicode categories L* and N*); everything else is a separator. The en-dash
case from /root/reference/src/Sir.Store.Tests/TextModelTests.cs:96-111
("Ferriman–Gallwey score" -> ferriman, gallwey, score) is covered by tests.

Three implementations that must agree (tested against each other):

* ``tokens_col``      — JVM-side ``split(lower(c), '[^\\p{L}\\p{N}]+')``:
                        whole-stage-codegen, the hot build path.
* ``tokenize_pandas`` — Arrow-batched pandas implementation (used inside
                        mapInPandas stages and wherever the plan is already
                        in Python).
* ``tokenize_py``     — pure-Python twin used by the oracle
                        (resin_spark/reference.py).

Term identity for BM25 is the lowercased surface token.  Resin's own term
identity is the *char-bag* (IdenticalAngle=0.998 on char-count vectors,
under which anagrams collide — BagOfCharsModel.cs:9).  We expose that as a
secondary canonical key ``chars_key`` (sorted characters of the token: an
equivalent canonical form of the char-count multiset) so Resin-equivalent
retrieval stays testable without infecting BM25 ranking.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Java regex (Spark split/regexp functions run JVM-side).
TOKEN_SEP_JAVA = r"[^\p{L}\p{N}]+"
_ASCII_TOKEN = re.compile(r"[a-z0-9]+")


def _is_alnum(ch: str) -> bool:
    """char.IsLetterOrDigit equivalent: Unicode categories L* and Nd...
    C# IsLetterOrDigit = Lu,Ll,Lt,Lm,Lo,Nd; Java \\p{L}\\p{N} = L* + N*.
    We standardize on L* + N* (documented deviation: C# excludes Nl/No;
    none of those appear in fixtures or transcripts)."""
    cat = unicodedata.category(ch)
    return cat[0] in ("L", "N")


def tokenize_py(text: str | None) -> list[str]:
    """Pure-Python tokenizer twin (oracle path).  Lowercase first, then
    split into maximal alnum runs — mirrors BagOfCharsModel.cs:30-34."""
    if not text:
        return []
    # lowercase the WHOLE string, as the JVM's lower() does: a per-char
    # lower() misses context rules such as Greek final sigma (ΟΔΟΣ ->
    # οδος), and the index is built with the JVM tokens
    low = text.lower()
    if low.isascii():  # L*/N* of lowercased ASCII is exactly [a-z0-9]
        return _ASCII_TOKEN.findall(low)
    out: list[str] = []
    run: list[str] = []
    for c in low:
        if _is_alnum(c):
            run.append(c)
        elif run:
            out.append("".join(run))
            run = []
    if run:
        out.append("".join(run))
    return out


def tokenize_pandas(texts: pd.Series) -> pd.Series:
    """Vectorized pandas tokenizer (Arrow batch path). Returns a Series of
    list[str].  Uses the same L*/N* class via regex on lowercased text."""
    # Python re has no \p classes; [^\W_] == unicode word chars minus
    # underscore == L* + N* + M* ; marks (M*) never occur standalone in our
    # corpora, and combined sequences are NFC so they ride along with their
    # base letter exactly as char.IsLetterOrDigit would keep the base.
    return (
        texts.fillna("")
        .str.lower()
        .str.findall(r"[^\W_]+")
        .apply(lambda toks: [t for t in toks if t])
    )


def tokens_col(col: Column | str) -> Column:
    """JVM-side tokenizer: array<string> of lowercased alnum runs.

    split() emits empty strings at the boundaries when the input starts or
    ends with a separator; filter them out (Resin only yields runs with
    embedding.Count > 0, BagOfCharsModel.cs:38-49)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(
        F.split(F.lower(F.coalesce(c, F.lit(""))), TOKEN_SEP_JAVA), ""
    )


def chars_key_py(token: str) -> str:
    """Canonical char-bag key: sorted characters. Two tokens have equal
    chars_key iff their char-count multisets are equal — i.e. iff Resin
    would merge them at IdenticalAngle (anagrams collide: listen/silent)."""
    return "".join(sorted(token))


def chars_key_col(col: Column | str) -> Column:
    """JVM-side chars_key: sorted characters of the token."""
    c = F.col(col) if isinstance(col, str) else col
    # split on empty pattern yields one-char elements (no empties in Spark 3+)
    return F.array_join(F.array_sort(F.filter(F.split(c, ""), lambda x: x != "")), "")
