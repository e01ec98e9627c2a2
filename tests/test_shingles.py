"""The shingle helpers (functions/text.py) against the per-position
``sequence`` + ``transform`` formula they replace, kept here as the
reference: identical arrays on edge-case text, including NULL, short
text, line separators and characters outside the BMP."""

import pytest
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.functions.text import char_shingles, word_shingles

TEXTS = [
    None,
    "",
    "abc",  # shorter than k
    "abcd",  # exactly k=4
    "abcde",  # exactly k=5
    "  Lead \t\t and\n\n trail   spaces  ",
    "one two three four",
    "emoji \U0001F600x\U0001F600y\U0001F389 end \U0001F600\U0001F600\U0001F600\U0001F600\U0001F600",
    "line\u2028separator\u2029and\u0085next line",  # not \s in Java regex
    "cafe\u0301 nai\u0308ve re\u0301sume\u0301",  # combining marks
    "\u05e9\u05dc\u05d5\u05dd \u05e2\u05d5\u05dc\u05dd \u0645\u0631\u062d\u0628\u0627",  # RTL
    "zero\u200bwidth\u200c joiner\u200d mark\ufeff end",  # zero-width
    "\u0130STANBUL Stra\u00dfe \u01c5",  # lower() changes the length
    " ",
]


def _norm(c):
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def _ref_char(c, k):
    norm = _norm(c)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(k)),
    )


def _ref_word(c, n):
    toks = F.split(_norm(c), " ")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "i int, t string")


@pytest.mark.parametrize(
    "helper, ref, k",
    [(char_shingles, _ref_char, 4), (char_shingles, _ref_char, 5), (word_shingles, _ref_word, 3)],
    ids=["char4", "char5", "word3"],
)
def test_shingles_match_reference(texts, helper, ref, k):
    rows = texts.select(
        "i", helper(F.col("t"), k).alias("got"), ref(F.col("t"), k).alias("want")
    ).orderBy("i").collect()
    assert len(rows) == len(TEXTS)
    for r in rows:
        assert r.got == r.want, (TEXTS[r.i], r.got, r.want)
        # the new forms never produce a broken (replaced) surrogate half
        assert all(s is None or "?" not in s for s in r.got)


def test_null_text_gives_one_null_char_shingle(texts):
    got = texts.where(F.col("t").isNull()).select(char_shingles("t", 5).alias("s")).first()
    assert got.s == [None]


def test_supplementary_characters_are_one_position(spark):
    df = spark.createDataFrame([("a\U0001F600b\U0001F600c",)], "t string")
    got = df.select(char_shingles("t", 3).alias("s")).first().s
    assert got == ["a\U0001F600b", "\U0001F600b\U0001F600", "b\U0001F600c"]
