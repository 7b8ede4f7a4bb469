"""``let``-bound token expressions: ``shingles`` and ``ngram_col`` bind the
token array once per row instead of re-evaluating it inside their HOF
lambdas.  The inline shapes they replaced stay here as differential twins;
outputs must be identical, and the plans must split each document once."""

import pytest
from pyspark.sql import functions as F

from warc2text_spark.operators.dedup import shingles
from warc2text_spark.operators.selection import _tokens, ngram_col
from warc2text_spark.operators.textops import _dup_gram_expr, let, tokens


def _shingles_inline(text_col="text", k=3):
    """The pre-``let`` shape: ``tokens(text)`` captured inside the lambda,
    so it is re-split for every shingle."""
    w = tokens(F.col(text_col))
    n = F.size(w)
    return F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)), lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(k)])),
    ).otherwise(F.array(F.col(text_col)))


def _ngram_col_inline(toks, n):
    """The pre-``let`` shape of ``selection.ngram_col``."""
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def _dup_gram_inline(text_col="text", gram=3):
    sh = _shingles_inline(text_col, gram)
    return F.lit(1.0) - F.size(F.array_distinct(sh)) / F.size(sh)


_WORDS = ["the", "Straße", "naïve", "東京", "данные", "x", "a-b", "été"]

CASES = {
    "empty": "",
    "one_token": "solo",
    "two_tokens": "a b",
    "exactly_k": "one two three",
    "double_spaces": "a  b  c   d e",
    "edge_spaces": " lead and trail ",
    "tabs_newlines": "a\tb\nc  d\t\te f g h i",
    "non_ascii": "Grüße aus Köln — 東京 タワー 和 данные ωμέγα ünïcödé",
    "long": " ".join(_WORDS[(i * 7 + i // 3) % len(_WORDS)]
                     for i in range(2000)),
    "null": None,
}


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(
        [(i, name, t) for i, (name, t) in enumerate(CASES.items())],
        "doc_id long, name string, text string")


def _by_name(df, col):
    return {r.name: r[col] for r in df.collect()}


@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_shingles_match_inline_twin(texts, k):
    got = _by_name(texts.select("name", shingles("text", k).alias("s")), "s")
    want = _by_name(texts.select("name", _shingles_inline("text", k)
                                 .alias("s")), "s")
    assert got == want
    assert got["empty"] == [""] and got["null"] == [None]
    assert len(got["long"]) == 2000 - (k - 1)


@pytest.mark.parametrize("n", [1, 2, 3, 8])
def test_ngram_col_matches_inline_twin(texts, n):
    toks = _tokens("text")
    got = _by_name(texts.select("name", ngram_col(toks, n).alias("g")), "g")
    want = _by_name(texts.select("name", _ngram_col_inline(toks, n)
                                 .alias("g")), "g")
    assert got == want
    assert got["empty"] == [] and len(got["long"]) == 2000 - (n - 1)


def test_dup_gram_ratio_matches_inline_twin(texts):
    got = _by_name(texts.select("name", _dup_gram_expr("text").alias("r")),
                   "r")
    want = _by_name(texts.select("name", _dup_gram_inline("text")
                                 .alias("r")), "r")
    assert got == want and 0.0 < got["long"] < 1.0


def test_let_binds_value_once_per_row(spark):
    df = spark.createDataFrame([("a b c",), (None,)], "text string")
    out = df.select(let(F.split("text", " "),
                        lambda w: F.size(w) * 10 + F.size(w)).alias("v"))
    assert [r.v for r in out.collect()] == [33, None]


def _optimized(df, col):
    return df.select(col.alias("c"))._jdf.queryExecution() \
        .optimizedPlan().toString()


def test_shingles_plan_splits_once(texts):
    """The projection holds exactly one split( — the inline shape held
    one per size() plus one per element_at in the lambda body."""
    assert _optimized(texts, shingles("text")).count("split(") == 1
    assert _optimized(texts, _shingles_inline("text")).count("split(") > 1


def test_ngram_col_plan_splits_once(texts):
    assert _optimized(texts, ngram_col(_tokens("text"), 8)) \
        .count("split(") == 1
