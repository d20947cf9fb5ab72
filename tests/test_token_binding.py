"""Text helpers evaluate their token array once per row.

Spark evaluates a higher-order function's lambda once per array
element, and a row expression captured inside it is evaluated again
for every element.  ``_span_segments``, ``word_ngrams`` and
``word_shingles`` bind the token array before their per-span /
per-shingle lambda; these tests check that they still return what the
capturing expressions (kept inline below as the reference) return on
the edge cases, and that their optimized plans split no row expression
inside a lambda body."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scache_spark.api import SEG_N, _span_segments
from scache_spark.functions import tokens, word_ngrams, word_shingles
from tools.plan_lint import resplits

TEXTS = [
    (1, None),
    (2, ""),
    (3, "a  b   c"),
    (4, "Two Words"),
    (5, "one two three"),
    (6, "w1 w2 w3 w4 w5"),
    (7, "The the THE cat the the cat sat the the cat sat on the mat"),
]


def _ref_span_segments(df, id_col, text_col):
    toks = F.split(F.lower(F.col(text_col)), " ")
    segs = F.transform(
        F.sequence(F.lit(1), F.size(toks), F.lit(SEG_N)),
        lambda s: F.concat_ws(" ", F.slice(toks, s, SEG_N)),
    )
    return df.select(id_col, F.posexplode(segs).alias("seg_idx", "seg"))


def _ref_word_ngrams(toks, n):
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ref_word_shingles(toks, n):
    return F.array_distinct(_ref_word_ngrams(toks, n))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def test_span_segments_match_capturing_reference(docs):
    got = _span_segments(docs, "doc_id", "text")
    ref = _ref_span_segments(docs, "doc_id", "text")
    assert sorted(got.collect()) == sorted(ref.collect())
    assert not resplits(_optimized(got)), _optimized(got)
    assert resplits(_optimized(ref))


@pytest.mark.parametrize("n", [2, 3, 5])
@pytest.mark.parametrize(
    "helper, ref",
    [(word_ngrams, _ref_word_ngrams), (word_shingles, _ref_word_shingles)],
)
def test_shingle_helpers_match_capturing_reference(docs, helper, ref, n):
    got = docs.select("doc_id", helper(tokens("text"), n).alias("g"))
    want = docs.select("doc_id", ref(tokens("text"), n).alias("g"))
    assert sorted(got.collect()) == sorted(want.collect())
    assert not resplits(_optimized(got)), _optimized(got)
    assert resplits(_optimized(want))
