"""Golden tests for the flagship n-gram pipeline (FIXTURES.md §A)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators.ngram import (
    ngram_count,
    ngram_count_text,
    ngram_topk,
)

CLAM = "How can a clam cram in a clean cream can?"

# verbatim expected output from reference report.md:77-90
CLAM_TRIGRAMS = [
    ("a clam cram", 1),
    ("a clean cream", 1),
    ("can a clam", 1),
    ("clam cram in", 1),
    ("clean cream can", 1),
    ("cram in a", 1),
    ("how can a", 1),
    ("in a clean", 1),
]


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_clam_cram_n3(spark):
    df = spark.createDataFrame([(CLAM,)], ["text"])
    assert rows(ngram_count(df, "text", 3)) == CLAM_TRIGRAMS


def test_clam_cram_n1(spark):
    df = spark.createDataFrame([(CLAM,)], ["text"])
    assert rows(ngram_count(df, "text", 1)) == [
        ("a", 2), ("can", 2), ("clam", 1), ("clean", 1),
        ("cram", 1), ("cream", 1), ("how", 1), ("in", 1),
    ]


@pytest.mark.parametrize("n", [2, 6])
def test_ngram_count_invariant(spark, n):
    # per line: #ngrams == max(0, tokens - n + 1); clam line has 10 tokens
    df = spark.createDataFrame([(CLAM,)], ["text"])
    total = ngram_count(df, "text", n).agg(F.sum("cnt")).collect()[0][0]
    assert total == max(0, 10 - n + 1)


def test_tokenizer_delete_semantics(spark):
    # reference WordCount.java:76 deletes punctuation, doesn't blank it
    df = spark.createDataFrame([("Don't stop-me now!",)], ["text"])
    assert rows(ngram_count(df, "text", 1)) == [
        ("dont", 1), ("now", 1), ("stopme", 1),
    ]


def test_tokenizer_edges(spark):
    df = spark.createDataFrame(
        [("",), ("!!!",), ("  lots   of   spaces ",), ("one two",)], ["text"]
    )
    assert rows(ngram_count(df, "text", 2)) == [
        ("lots of", 1), ("of spaces", 1), ("one two", 1),
    ]
    # n greater than token count -> no output
    assert rows(ngram_count(df, "text", 7)) == []


def test_digits_sort_first(spark):
    df = spark.createDataFrame([("Agent 007 reporting 007",)], ["text"])
    assert rows(ngram_count(df, "text", 1)) == [
        ("007", 2), ("agent", 1), ("reporting", 1),
    ]


def test_cross_line_mode(spark, tmp_path):
    p = tmp_path / "f.txt"
    p.write_text("alpha beta\ngamma delta\n")
    per_line = rows(ngram_count_text(spark, str(p), 2, cross_line=False))
    assert per_line == [("alpha beta", 1), ("gamma delta", 1)]
    crossed = rows(ngram_count_text(spark, str(p), 2, cross_line=True))
    assert crossed == [("alpha beta", 1), ("beta gamma", 1), ("gamma delta", 1)]


def test_cross_line_multi_split_file(spark, tmp_path):
    """A file spanning many input splits must reassemble in byte order:
    the (file_block_start, id) sort key pins split order; with bare
    monotonically_increasing_id the order is scheduler convention."""
    p = tmp_path / "big.txt"
    # ~40 KB, unique token per line so any misordered split shows up as
    # a different bigram multiset
    p.write_text("".join(f"w{i:05d} x{i:05d}\n" for i in range(2000)))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        n_parts = spark.read.text(str(p)).rdd.getNumPartitions()
        assert n_parts > 4, "fixture must actually span multiple splits"
        crossed = ngram_count_text(spark, str(p), 2, cross_line=True).collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    got = {(r[0], r[1]) for r in crossed}
    toks = [t for i in range(2000) for t in (f"w{i:05d}", f"x{i:05d}")]
    want = {(" ".join(toks[i:i + 2]), 1) for i in range(len(toks) - 1)}
    assert got == want


def test_topk_ordering(spark):
    df = spark.createDataFrame([("b b b a a c",)], ["text"])
    top = rows(ngram_topk(df, "text", 1, k=2))
    assert top == [("b", 3), ("a", 2)]


def test_cms_heavy_hitters_never_undercount(spark):
    """Count-min sketch invariant: every estimate >= the true count, and
    the true top-1 term appears among the heavy hitters."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.functions.text import normalize_text, tokenize
    from hadoop_mapreduce_spark.operators.textstats import heavy_hitters_cms
    from hadoop_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    est = {r.term: r.est for r in heavy_hitters_cms(spark, SF_DIR).collect()}
    true = {
        r.term: r.cnt
        for r in load_table(spark, SF_DIR, "documents")
        .select(F.explode(tokenize(normalize_text(F.col("text")))).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert all(est[t] >= true[t] for t in est)
    top_term = max(true, key=lambda t: (true[t], t))
    assert top_term in est


def test_cross_line_runt_splits_and_empty_lines(spark, tmp_path):
    """n=4 with one-token and empty lines across many tiny splits: the
    junction walk must roll the (n-1)-token carry through partitions
    holding fewer than n-1 tokens (the runt-partition branch)."""
    p = tmp_path / "runt.txt"
    lines = []
    for i in range(300):
        if i % 7 == 0:
            lines.append("")                      # empty line
        elif i % 3 == 0:
            lines.append(f"t{i:04d}")             # single-token line
        else:
            lines.append(f"a{i:04d} b{i:04d}")
    p.write_text("\n".join(lines) + "\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "256")
        n_parts = spark.read.text(str(p)).rdd.getNumPartitions()
        assert n_parts > 8, "fixture must span many tiny splits"
        got = {(r[0], r[1]) for r in
               ngram_count_text(spark, str(p), 4, cross_line=True).collect()}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    toks = [t for ln in lines for t in ln.split() if t]
    from collections import Counter
    want = Counter(" ".join(toks[i:i + 4]) for i in range(len(toks) - 3))
    assert got == set(want.items())
