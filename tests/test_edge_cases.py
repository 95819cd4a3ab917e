"""Empty/degenerate-input robustness: every operator family must handle
zero rows, zero tokens, and single-element inputs without erroring."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

from hadoop_mapreduce_spark.operators.dedup import embedding_cosine_pairs
from hadoop_mapreduce_spark.operators.ngram import ngram_count
from hadoop_mapreduce_spark.operators.similarity import cosine_topk
from hadoop_mapreduce_spark.operators.skew import salted_aggregate

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()), StructField("text", StringType()),
])
VEC_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(DoubleType())),
])


def test_ngram_empty_table(spark):
    empty = spark.createDataFrame([], DOC_SCHEMA)
    assert ngram_count(empty, "text", 3).count() == 0


def test_ngram_all_punctuation_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "!!! ... ???"), (2, ""), (3, "one two")], DOC_SCHEMA)
    # no doc has >= 3 tokens after normalisation -> no trigrams
    assert ngram_count(docs, "text", 3).count() == 0


def test_embedding_pairs_empty_table(spark):
    empty = spark.createDataFrame([], VEC_SCHEMA)
    assert embedding_cosine_pairs(empty, 0.5).count() == 0


def test_embedding_pairs_single_vector(spark):
    one = spark.createDataFrame([(1, [1.0, 0.0])], VEC_SCHEMA)
    assert embedding_cosine_pairs(one, 0.5).count() == 0


def test_cosine_topk_empty_queries(spark):
    vecs = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], VEC_SCHEMA)
    empty = spark.createDataFrame([], VEC_SCHEMA)
    assert cosine_topk(vecs, empty, k=5).count() == 0


def test_salted_aggregate_empty(spark):
    schema = StructType([
        StructField("k", LongType()), StructField("v", DoubleType()),
    ])
    empty = spark.createDataFrame([], schema)
    assert salted_aggregate(empty, ["k"], {"n": "count(*)"}).count() == 0


def test_bloom_with_no_benchmark_docs_flags_nothing(spark):
    """A corpus whose id space contains no benchmark docs (doc_id % 20
    never 0) must produce an EMPTY bitmap and zero flags —
    the element_at(map, word) NULL path, coalesced to a miss."""
    from unittest.mock import patch

    import hadoop_mapreduce_spark.operators.datamix as dm

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta", "en",
             "srcX", 40) for i in range(1, 9)]  # ids 1..8, none % 20 == 0
    df = spark.createDataFrame(
        rows,
        "doc_id: long, text: string, lang: string, source: string, n_chars: long")
    with patch.object(dm, "load_table", lambda s, d, n: df):
        out = dm.bloom_decontaminate(spark, "ignored").collect()
    assert len(out) == 1
    assert out[0].n_train_docs == 8 and out[0].n_flagged_bloom == 0


def test_span_chunks_doc_shorter_than_chunk(spark):
    """A document shorter than one chunk is a single (short) chunk —
    it must survive as its own first occurrence, not vanish."""
    from unittest.mock import patch

    import hadoop_mapreduce_spark.operators.dedup as dd

    rows = [(1, "one two", "en", "s", 7), (2, "one two", "en", "s", 7)]
    df = spark.createDataFrame(
        rows,
        "doc_id: long, text: string, lang: string, source: string, n_chars: long")
    with patch.object(dd, "load_table", lambda s, d, n: df):
        out = {r.doc_id: r for r in
               dd.dedup_span_chunks(spark, "ignored", chunk_tokens=8).collect()}
    assert out[1].n_chunks == 1 and out[1].n_kept == 1
    # doc 2 is an exact dup at chunk granularity: fully removed
    assert out[2].n_chunks == 1 and out[2].n_kept == 0


def test_funnel_ordering_constraint_is_enforced(spark):
    """A user who purchases BEFORE clicking must not count as converted
    — the ordered-funnel property the unordered formulation gets wrong."""
    from unittest.mock import patch

    from datetime import datetime, timedelta

    import hadoop_mapreduce_spark.operators.timeseries as ts

    base = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # user 1: view -> click -> purchase (converts)
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + timedelta(minutes=1), 1, "click", 1.0, "{}"),
        (3, base + timedelta(minutes=2), 1, "purchase", 1.0, "{}"),
        # user 2: purchase BEFORE click (must NOT convert)
        (4, base, 2, "view", 1.0, "{}"),
        (5, base + timedelta(minutes=2), 2, "click", 1.0, "{}"),
        (6, base + timedelta(minutes=1), 2, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id: long, ts: timestamp, user_id: long, event_type: string,"
        " value: double, props: string")
    with patch.object(ts, "load_table", lambda s, d, n: df):
        out = ts.events_funnel(spark, "ignored").collect()[0]
    assert out.n_users == 2
    assert out.n_viewed == 2
    assert out.n_clicked_after_view == 2
    assert out.n_purchased_after_click == 1  # only user 1


def test_r7b_operators_on_empty_fixtures(tmp_path, spark):
    """Every r7b registered operator must run (not error) on EMPTY
    tables — degenerate aggregations, empty windows, empty recursions
    and 0-of-3 ntile partitions all have to degrade to 0..3 rows."""
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long")
    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string")
    orders = spark.createDataFrame(
        [], "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate date, o_orderpriority string,"
            " o_clerk string, o_shippriority int, o_comment string")
    sf = str(tmp_path)
    for name, df in [("documents", docs), ("embeddings", emb),
                     ("events", ev), ("orders", orders)]:
        df.coalesce(1).write.parquet(f"{sf}/{name}.parquet")

    from hadoop_mapreduce_spark.operators import (
        dedup, relational, similarity, skew, textstats, timeseries,
    )

    for fn, bound in [
        (textstats.hll_portable_union, 0),
        (textstats.winnowing_fingerprint, 0),
        (textstats.ccnet_perplexity_buckets, 0),
        (textstats.vocab_coverage_curve, 3),
        (textstats.char_trigram_langid, 0),
        (similarity.embedding_centroid_drift, 0),
        (dedup.minhash_accuracy_audit, 0),
        (relational.quantile_histogram_portable, 0),
        (timeseries.events_ewma_daily, 0),
        (skew.salted_aggregate_events, 0),
    ]:
        n = fn(spark, sf).count()
        assert n >= 0 and (bound == 0 and n == 0 or n <= bound), (
            fn.__name__, n)
