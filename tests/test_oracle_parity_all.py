"""Differential oracle parity for EVERY oracle-paired query, in-repo.

The driver runs this comparison at sf0.01 per round; this test enforces
the same contract at sf0.001 for all registered queries in the default
tier, so an operator can't silently drift from its oracle between
rounds. Each case releases the scoped caches its query persisted, as
tools/oracle_check.py and bench.py do, so caches do not pile up across
the registry in one JVM.
Queries registered without SQL (approximate/stateful) are exercised
rows-only: they must execute and return a well-formed result.
``ROWS_ONLY`` names them, each with its reason.

Rows are compared IN EMITTED ORDER exactly when the query declares
order keys in the registry (ORDER_KEYS), and the declared key tuple must
be unique across the Spark rows, so the declared order is total and
the ordered comparison cannot trip on ties. Queries without declared
keys (single-row aggregates) are compared as multisets.

A registered query is a function of (spark, sf_dir) only: its constants
live in its operator body and in its oracle. ``test_operator_knobs``
pins the few defaulted operator parameters that some caller still sets.
"""

from __future__ import annotations

import inspect

import pytest

from hadoop_mapreduce_spark.registry import ORACLE, ORDER_KEYS, QUERIES
from hadoop_mapreduce_spark.session import release_caches
from tests.conftest import SF_DIR


def _key(rows, cols):
    return [tuple(str(v) for _, v in sorted(zip(cols, r))) for r in rows]


def _assert_total_order(rows, cols, keys, name):
    """No two rows share the declared key tuple: the order is total."""
    at = [cols.index(k.partition(" ")[0]) for k in keys]
    seen = set()
    for r in rows:
        key = tuple(r[i] for i in at)
        assert key not in seen, (
            f"{name}: declared order {keys} ties on {key}")
        seen.add(key)


def _assert_no_decimal(rows, side, name):
    """DECIMAL values are banned from registered outputs: differential
    harnesses canonicalise Decimal inconsistently (Decimal('1.50') and
    float 1.5 stringify differently), and the only two registry entries
    that ever emitted DECIMAL were exactly the two that flaked at the
    round-5 driver gate. Exact money math belongs in integer cents or
    a final bit-stable double, never in a collected Decimal."""
    from decimal import Decimal

    for r in rows[:50]:
        for v in r:
            assert not isinstance(v, Decimal), (
                f"{name}: {side} emits Decimal {v!r} — use BIGINT cents "
                "or a bit-stable double instead")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    try:
        _check_query(spark, duck, name)
    finally:
        release_caches()


def _check_query(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    got_rows = df.collect()
    keys = ORDER_KEYS[name]
    if keys:
        _assert_total_order(got_rows, df.columns, keys, name)
    sql = ORACLE.get(name)
    if sql is None:
        # rows-only contract: executes, yields columns, row count >= 0
        assert df.columns
        assert len(got_rows) >= 0
        return
    got_tuples = [tuple(r) for r in got_rows]
    got = _key(got_tuples, df.columns)
    cur = duck.execute(sql)
    want_rows = cur.fetchall()
    _assert_no_decimal(got_tuples, "spark", name)
    _assert_no_decimal(want_rows, "oracle", name)
    want = _key(want_rows, [d[0] for d in cur.description])
    assert sorted(df.columns) == sorted(d[0] for d in cur.description)
    if keys:
        assert got == want
    else:
        assert sorted(got) == sorted(want)


def test_total_order_check_trips_on_ties(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (1, "c")],
                               "k long, v string")
    _assert_total_order(df.collect(), df.columns, ("v",), "distinct")
    with pytest.raises(AssertionError, match="ties on"):
        _assert_total_order(df.collect(), df.columns, ("k DESC",), "tied")


# Every defaulted parameter of a registered operator, as (query,
# parameter). Each is set, to a value other than its default, by some
# caller other than the registry: a test that needs a value the
# registered one cannot show on a fixture, or (ann_pq_adc's k/m/n_codes,
# dedup_ngram_jaccard's threshold) another operator. A parameter whose
# callers only ever pass its default is not a knob: its value belongs in
# the operator body. A new default must be added here on purpose.
OPERATOR_KNOBS = {
    ("ann_dim_truncation_audit", "n_queries"),
    ("ann_pq_adc", "k"),
    ("ann_pq_adc", "m"),
    ("ann_pq_adc", "n_codes"),
    ("decontaminate_semantic", "threshold"),
    ("dedup_embedding_cosine", "threshold"),
    ("dedup_embedding_lsh", "threshold"),
    ("dedup_ngram_jaccard", "threshold"),
    ("dedup_span_chunks", "chunk_tokens"),
    ("image_dhash_neardup", "max_hamming"),
    ("inverted_index_topk", "k_terms"),
    ("jsd_lang_divergence", "langs"),
    ("pagerank_dedup_graph", "k"),
    ("salted_aggregate_events", "n_salts"),
    ("sample_fixed_per_source", "cap"),
    ("sample_weighted", "k"),
    ("semdedup_ivf", "tau"),
    ("shard_layout_plan", "n_shards"),
    ("token_entropy_quality", "k"),
}


# Every query registered without an oracle, with the reason no SQL twin
# replays it; only their row counts are checked. Sketches and
# samples are not here: they run on the portable kernels and are
# hash-paired. A new rows-only query must be added here on purpose.
ROWS_ONLY = {
    "compression_ratio_quality": "DEFLATE is not SQL-expressible",
    "quality_classifier_train": "iterative gradient descent in floats",
    "embedding_pca_power": "iterative power-method fixpoint in floats",
    "knn_join_lsh": "kNN join over SRP-LSH buckets, recall below 1",
    "ann_pq_adc": "ranks by quantized (ADC) distances",
    "ann_pq_rerank": "re-ranks an ADC shortlist",
    "ann_ivfpq_rerank": "IVFADC over float k-means centroids",
    "approx_percentile_stats": "Spark's approx_percentile sketch",
    "dedup_embedding_lsh": "SRP-LSH banding, recall below 1",
    "ann_ivf_topk": "IVF probe over float k-means centroids",
}


def test_rows_only_set():
    assert ROWS_ONLY.keys() == set(QUERIES) - set(ORACLE)


def test_operator_knobs():
    """The registered operators' defaulted parameters are exactly
    OPERATOR_KNOBS: a default that no caller sets is a second copy of a
    constant its oracle already spells out, free to drift from it."""
    got = set()
    for name, fn in QUERIES.items():
        raw = getattr(fn, "__wrapped__", fn)
        got |= {(name, p.name)
                for p in inspect.signature(raw).parameters.values()
                if p.default is not inspect.Parameter.empty}
    assert got == OPERATOR_KNOBS
