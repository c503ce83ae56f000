"""Tokenizer unit tests — mirrors Can_tokenize
(/root/reference/src/Sir.Store.Tests/TextModelTests.cs:96-111) and checks
the three implementations (pure-Python, pandas, JVM) agree."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from resin_spark.tokenizer import (chars_key_col, chars_key_py,
                                   tokenize_pandas, tokenize_py, tokens_col)

ENDASH = "Ferriman–Gallwey score"  # en-dash U+2013 (TextModelTests.cs:99)

CASES = [
    (ENDASH, ["ferriman", "gallwey", "score"]),
    ("Hello, World 42!", ["hello", "world", "42"]),
    ("", []),
    (None, []),
    ("  a_b  ", ["a", "b"]),  # underscore is a separator (not alnum)
    ("UPPER lower MiXeD", ["upper", "lower", "mixed"]),
    ("tool:search(arg=1)", ["tool", "search", "arg", "1"]),
    ("émigré café", ["émigré", "café"]),
    # Greek final sigma: lowercasing is whole-string (context-sensitive)
    ("ΟΔΟΣ", ["οδος"]),
    ("ΣΑΣ", ["σας"]),
    ("aΣ bΣc", ["aς", "bσc"]),
]

# Strings whose lowercase is context-sensitive, expands or leaves the
# ASCII/Latin-1 range: the JVM tokens must equal tokenize_py on each.
PROBES = [
    "ΟΔΟΣ", "ΣΑΣ", "aΣ bΣc", "ΣΑΣ.", "Σ", "aΣ1", "ΌΣΟΣ", "Σ̈a",
    "İstanbul", "ẞ straße", "ﬁle", "Ⅻ ⅻ", "１２３ ＡＢＣ", "ǅungla", ENDASH,
]


@pytest.mark.parametrize("text,expected", CASES)
def test_tokenize_py(text, expected):
    assert tokenize_py(text) == expected


def test_tokenize_pandas_matches_py():
    s = pd.Series([c[0] for c in CASES])
    got = tokenize_pandas(s).tolist()
    assert got == [c[1] for c in CASES]


def test_tokens_col_matches_py(spark):
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(CASES)], "i int, text string"
    )
    rows = df.select("i", tokens_col("text").alias("toks")).orderBy("i").collect()
    assert [r["toks"] for r in rows] == [c[1] for c in CASES]
    df = spark.createDataFrame(list(enumerate(PROBES)), "i int, text string")
    rows = df.select("i", tokens_col("text").alias("toks")).orderBy("i").collect()
    assert [r["toks"] for r in rows] == [tokenize_py(s) for s in PROBES]


def test_chars_key_anagrams(spark):
    # Resin merges anagrams at IdenticalAngle=0.998 on char-count vectors
    assert chars_key_py("listen") == chars_key_py("silent") == "eilnst"
    assert chars_key_py("listen") != chars_key_py("listens")
    df = spark.createDataFrame([("listen",), ("silent",), ("apple",)], "t string")
    rows = df.select(chars_key_col("t").alias("k")).collect()
    assert [r["k"] for r in rows] == ["eilnst", "eilnst", "aelpp"]


def test_chars_key_counts_multiset():
    # sorted-chars is a faithful canonical form of the char-count multiset
    assert chars_key_py("aab") != chars_key_py("abb")
