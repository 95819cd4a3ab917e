"""Physical-plan assertions — the scale contract (SURVEY.md north star).

These tests pin the plan properties that matter at 100 TB: pushdown
reaching the parquet scan, column pruning, broadcast joins for dims,
no accidental cartesian products, partial aggregation present.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators import relational
from hadoop_mapreduce_spark.operators.ngram import ngram_count
from hadoop_mapreduce_spark.plans.explain import (
    assert_broadcast_join,
    assert_no_cartesian,
    plan_text,
    static_plan_text,
    pushed_filters,
    scan_read_schema,
)
from hadoop_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_q6_filters_pushed_to_scan(spark):
    df = relational.q6_forecast_revenue(spark, SF_DIR)
    pf = pushed_filters(df)
    assert pf, "no PushedFilters line in plan"
    joined = " ".join(pf)
    assert "l_shipdate" in joined and "l_discount" in joined and "l_quantity" in joined


def test_ngram_scan_prunes_columns(spark):
    docs = load_table(spark, SF_DIR, "documents")
    df = ngram_count(docs, "text", 3)
    schemas = scan_read_schema(df)
    assert schemas and all("text:string" in s for s in schemas)
    # none of the unused columns should be read
    assert all("lang" not in s and "source" not in s for s in schemas)


def test_q5_uses_broadcast_joins(spark):
    df = relational.q5_local_supplier_volume(spark, SF_DIR)
    assert_broadcast_join(df, min_count=2)
    assert_no_cartesian(df)


def test_q1_partial_aggregation(spark):
    text = static_plan_text(relational.q1_pricing_summary(spark, SF_DIR))
    assert text.count("HashAggregate") >= 2, "partial+final agg expected"
    assert "codegen id" in text, "whole-stage codegen spans expected"


def test_topk_no_global_sort(spark):
    """limit-after-orderBy must compile to TakeOrderedAndProject, not a
    full range-partitioned sort."""
    text = plan_text(relational.sort_multi_key_limit(spark, SF_DIR))
    assert "TakeOrderedAndProject" in text


def test_range_theta_join_not_nested_loop(spark):
    """The equi-key keeps the range join a hash join (SortMerge or
    BroadcastHash), never a cartesian/BNLJ over the fact table."""
    text = plan_text(relational.join_range_theta(spark, SF_DIR))
    assert "CartesianProduct" not in text
    assert ("SortMergeJoin" in text) or ("BroadcastHashJoin" in text) or ("ShuffledHashJoin" in text)


def test_q9_part_filter_pushed(spark):
    """The %substring% part filter must reach the part scan as a pushed
    StringContains, and the dims must broadcast."""
    df = relational.q9_product_profit(spark, SF_DIR)
    pf = " ".join(pushed_filters(df))
    assert "p_name" in pf
    assert_broadcast_join(df, min_count=2)


def test_q15_date_filters_pushed(spark):
    df = relational.q15_top_supplier(spark, SF_DIR)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf


def test_q21_two_shuffle_aggregation_no_extra_fact_joins(spark):
    """Q21's EXISTS/NOT-EXISTS pair is re-expressed as two aggregates —
    the plan must contain exactly one join against lineitem (orders) plus
    the broadcast supplier join, never three fact-table joins."""
    text = plan_text(relational.q21_waiting_supplier(spark, SF_DIR))
    assert text.count("SortMergeJoin") <= 1  # li x orders; supplier is broadcast


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """partitionBy write + year-filter read: only matching partitions are
    scanned (PartitionFilters in the scan, non-matching dirs untouched)."""
    from hadoop_mapreduce_spark.sources.tables import write_parquet

    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate"))
    path = str(tmp_path / "orders_part")
    write_parquet(orders, path, partition_by=["o_year"])
    read = spark.read.parquet(path).where(F.col("o_year") == 1997)
    text = plan_text(read)
    assert "PartitionFilters" in text and "o_year" in text
    n_1997 = orders.where(F.col("o_year") == 1997).count()
    assert read.count() == n_1997


def test_bloom_probe_side_no_join_no_gram_shuffle(spark):
    """The Bloom probe side must be a projection against a broadcast
    one-row map: no SortMergeJoin anywhere, and the only Exchanges are
    the bitmap build aggregate and the final per-source rollup —
    never an exchange keyed by gram strings."""
    from hadoop_mapreduce_spark.operators.datamix import bloom_decontaminate

    text = static_plan_text(bloom_decontaminate(spark, SF_DIR))
    assert "SortMergeJoin" not in text
    assert "CartesianProduct" not in text


def test_zorder_single_aggregation_exchange(spark):
    """Z-order layout is a scan -> bit-arithmetic projection -> one
    hash aggregate: no sort-merge join, no window, and the Morton
    expression stays inside whole-stage codegen."""
    from hadoop_mapreduce_spark.operators.layout import zorder_layout

    text = static_plan_text(zorder_layout(spark, SF_DIR))
    assert "SortMergeJoin" not in text
    assert "Window" not in text
    assert "codegen id" in text
    assert text.count("HashAggregate") >= 2  # partial + final


def test_span_chunks_exactly_two_keyed_exchanges(spark):
    """Span dedup's contract: one exchange on the chunk hash (window)
    plus one on doc_id (rebuild aggregate) — flag-don't-filter means no
    third join exchange re-anchoring totals."""
    from hadoop_mapreduce_spark.operators.dedup import dedup_span_chunks

    text = static_plan_text(dedup_span_chunks(spark, SF_DIR))
    assert "SortMergeJoin" not in text and "BroadcastHashJoin" not in text


def test_hll_portable_no_joins_two_aggregation_chains(spark):
    """Portable HLL is pure aggregation algebra: distinct -> register
    max -> estimate, with the union row a re-aggregation of the
    register table. No join of any kind, codegen throughout."""
    from hadoop_mapreduce_spark.operators.textstats import (
        hll_portable_union,
    )

    text = static_plan_text(hll_portable_union(spark, SF_DIR))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoop"):
        assert j not in text
    assert "codegen id" in text
    assert text.count("HashAggregate") >= 4  # partials + finals


def test_winnowing_no_global_sort_window_partitioned_by_doc(spark):
    """Winnowing's window is PARTITIONED by doc_id — no single-partition
    window, no global sort before the final presentation orderBy, and
    no joins."""
    from hadoop_mapreduce_spark.operators.textstats import (
        winnowing_fingerprint,
    )

    text = static_plan_text(winnowing_fingerprint(spark, SF_DIR))
    assert "SortMergeJoin" not in text and "BroadcastHashJoin" not in text
    assert "Window" in text
    assert text.count("Exchange SinglePartition") <= 1  # presentation only


def test_vocab_coverage_two_phase_rank_no_single_partition_rank(spark):
    """The two-phase rank: the within-partition row_number windows over
    spark_partition_id (range-partitioned), so the only
    SinglePartition exchanges are the tiny offsets/global aggregate
    sides — the vocabulary itself is never funneled through one
    partition."""
    from hadoop_mapreduce_spark.operators.textstats import (
        vocab_coverage_curve,
    )

    text = static_plan_text(vocab_coverage_curve(spark, SF_DIR))
    assert "rangepartitioning" in text.lower()
    assert "SortMergeJoin" not in text


def test_centroid_drift_broadcast_only_joins(spark):
    """Centroid drift joins only the d-row global centroid (broadcast)
    and the 1-row global norm (broadcast nested loop on a scalar) —
    no shuffle join anywhere."""
    from hadoop_mapreduce_spark.operators.similarity import (
        embedding_centroid_drift,
    )

    text = static_plan_text(embedding_centroid_drift(spark, SF_DIR))
    assert "SortMergeJoin" not in text
    assert "BroadcastHashJoin" in text


def test_neardup_pairs_join_keyed_on_fingerprint(spark):
    """The MOSS pair join is an equi-join on the fingerprint hash
    (never a nested-loop/cartesian), and the boilerplate cull is a
    broadcast anti join."""
    from hadoop_mapreduce_spark.operators.textstats import (
        winnowing_neardup_pairs,
    )

    text = static_plan_text(winnowing_neardup_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in text
    assert "LeftAnti" in text


def test_plan_dump_strips_lambda_and_codegen_ids():
    """tools/plan_dump.py's id normalisation: two plan texts that differ
    only in session-history counters (lambda-variable suffixes,
    whole-stage codegen ids, expression ids) dump identically."""
    from tools.plan_dump import strip_ids

    a = ("(3) Project [codegen id : 2]\nOutput [1]: [transform(a#7, "
         "lambdafunction((lambda x_591#12L + 1), lambda x_591#12L, false)) "
         "AS b#9]")
    b = ("(3) Project [codegen id : 5]\nOutput [1]: [transform(a#70, "
         "lambdafunction((lambda x_3#4L + 1), lambda x_3#4L, false)) "
         "AS b#91]")
    assert strip_ids(a) == strip_ids(b)
    assert "[codegen id : x]" in strip_ids(a)
    assert "lambda x_x#xL" in strip_ids(a)
