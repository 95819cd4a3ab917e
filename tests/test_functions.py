"""Unit tests for the text/vector column-function library."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.text import (
    ngrams_from_tokens,
    normalize_text,
    tokenize,
)
from hadoop_mapreduce_spark.functions.vectors import cosine_similarity, dot, l2_norm


def one(spark, expr_col, data=("x",), cols=("text",)):
    return spark.createDataFrame([data], list(cols)).select(expr_col.alias("v")).collect()[0].v


def test_normalize_deletes_not_blanks(spark):
    assert one(spark, normalize_text(F.col("text")), ("end.Start",)) == "endstart"
    assert one(spark, normalize_text(F.col("text")), ("Don't",)) == "dont"


def test_tokenize_no_empty_tokens(spark):
    got = one(spark, tokenize(F.col("text")), ("  a   b  ",))
    assert got == ["a", "b"]
    assert one(spark, tokenize(F.col("text")), ("",)) == []


def test_ngrams_window(spark):
    toks = F.split(F.lit("a b c d"), " ")
    assert one(spark, ngrams_from_tokens(toks, 2)) == ["a b", "b c", "c d"]
    assert one(spark, ngrams_from_tokens(toks, 4)) == ["a b c d"]
    assert one(spark, ngrams_from_tokens(toks, 5)) == []
    assert one(spark, ngrams_from_tokens(toks, 1)) == ["a", "b", "c", "d"]


def test_shingles_normalised(spark):
    from hadoop_mapreduce_spark.operators.ngram import explode_ngram_set

    df = spark.createDataFrame([(1, "Hello, World again")], ["doc_id", "text"])
    got = sorted(tuple(r) for r in
                 explode_ngram_set(df, "text", 2, ["doc_id"]).collect())
    assert got == [(1, "hello world"), (1, "world again")]


def test_vector_ops(spark):
    df = spark.createDataFrame([([3.0, 4.0], [4.0, 3.0])], ["a", "b"])
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        l2_norm(F.col("a")).alias("n"),
        cosine_similarity(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert r.d == 24.0
    assert r.n == 5.0
    assert math.isclose(r.c, 24.0 / 25.0)
