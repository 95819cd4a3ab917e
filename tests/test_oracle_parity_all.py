"""Differential oracle parity for EVERY oracle-paired query, in-repo.

The driver runs this comparison at sf0.01 per round; this test enforces
the same contract at sf0.001, so an operator can't silently drift from
its oracle between rounds. The bench.py headline queries, the near-dup
graph family, the n-gram-set kernel queries and the MinHash-LSH
pipeline's consumers run in the default tier; every other query is in
the deep tier (see conftest.py).
Queries registered without SQL (approximate/stateful) are exercised
rows-only: they must execute and return a well-formed result.

Rows are compared IN EMITTED ORDER exactly when the query declares
order keys in the registry (ORDER_KEYS), and the declared key tuple must
be unique across the Spark rows, so the declared order is total and
the ordered comparison cannot trip on ties. Queries without declared
keys (single-row aggregates) are compared as multisets.
"""

from __future__ import annotations

import pytest

from bench import HEADLINE
from hadoop_mapreduce_spark.registry import ORACLE, ORDER_KEYS, QUERIES
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


# The near-dup graph family built on the dedup.py graph kernels
# (star-CC, degrees, lpa_labels, triangles) runs in the default tier
# beside the headline queries.
GRAPH_KERNEL_QUERIES = {
    "dedup_connected_components", "er_survivorship_golden",
    "label_propagation_communities", "graph_modularity_audit",
    "triangle_count_dedup_graph", "graph_triangle_count",
    "graph_degree_assortativity", "graph_rich_club",
    "kcore_dedup_graph", "pagerank_dedup_graph",
}
# The queries whose Spark plan moved onto the n-gram-set kernels
# (explode_ngram_set, shingle_pair_counts, the portable Bloom filter)
# also run in the default tier.
GRAM_KERNEL_QUERIES = {
    "dup_ngram_rate", "source_overlap_matrix", "source_novelty_attribution",
    "memorization_novelty", "hash_width_collision_audit",
    "dedup_ngram_jaccard", "dedup_containment", "dedup_containment_prefix",
    "minhash_bbit_estimate", "minhash_accuracy_audit", "lsh_band_tuning",
    "dedup_threshold_sweep", "dedup_shingle_size_sweep",
    "cross_source_duplication_matrix", "pipeline_curation",
    "pipeline_pretrain_scale", "bloom_join_prefilter_audit",
}
# The remaining consumers of the MinHash-LSH pipeline (dedup.py's
# shingle/signature/banding/verify kernels and dedup_minhash_lsh's
# persisted pairs) also run in the default tier.
LSH_PIPELINE_QUERIES = {
    "dedup_keep_best", "dedup_incremental", "dedup_jaccard_prefix",
    "dedup_cluster_size_histogram", "neardup_label_conflict",
    "dedup_chain_audit", "dedup_token_savings", "decontaminate_fuzzy",
    "pipeline_target_select",
}
DEFAULT_TIER = (set(HEADLINE) | GRAPH_KERNEL_QUERIES | GRAM_KERNEL_QUERIES
                | LSH_PIPELINE_QUERIES)


@pytest.mark.parametrize("name", [
    pytest.param(name, marks=() if name in DEFAULT_TIER else pytest.mark.deep)
    for name in sorted(QUERIES)])
def test_query_matches_oracle(spark, duck, name):
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
