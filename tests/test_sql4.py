"""Spark-4 SQL-surface tests: recursive CTE spine, LATERAL top-k,
VARIANT extraction, collated grouping (operators/sql4.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators.sql4 import (
    collation_ci_counts,
    lateral_topk_orders,
    variant_props_stats,
)
from hadoop_mapreduce_spark.registry import QUERIES
from tests.conftest import SF_DIR


def test_recursive_spine_gap_free(spark):
    rows = QUERIES["recursive_monthly_spine"](spark, SF_DIR).collect()
    assert rows
    # consecutive month starts, no gaps even where n_orders == 0
    for a, b in zip(rows, rows[1:]):
        assert (b.month_start.year * 12 + b.month_start.month) == (
            a.month_start.year * 12 + a.month_start.month) + 1
    # spine endpoints carry orders by construction
    assert rows[0].n_orders > 0 and rows[-1].n_orders > 0


def test_lateral_topk_matches_window(spark):
    lat = lateral_topk_orders(spark, SF_DIR)
    rows = lat.collect()
    per_cust = {}
    for r in rows:
        per_cust.setdefault(r.c_custkey, []).append(float(r.o_totalprice))
    for prices in per_cust.values():
        assert len(prices) <= 3
        assert prices == sorted(prices, reverse=True)


def test_variant_props_counts(spark):
    rows = variant_props_stats(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_with_k == r.n  # fixture props always carry k
        assert r.avg_k <= r.max_k


def test_collation_collapses_case(spark):
    rows = collation_ci_counts(spark, SF_DIR).collect()
    assert len(rows) == 5  # one group per region, not per case variant
    assert all(r.n == 2 for r in rows)
    assert all(r.rep == r.rep.upper() for r in rows)  # binary min = UPPER


def test_sql_udf_inlines_to_codegen(spark):
    """The SQL UDF resolves to a plain Catalyst expression: results
    match the inline formula exactly and the optimized plan contains no
    UDF/eval node (it's the q6-shaped scan aggregation)."""
    from hadoop_mapreduce_spark.operators.sql4 import sql_udf_revenue
    from tests.conftest import SF_DIR as _SF

    df = sql_udf_revenue(spark, _SF)
    rows = df.collect()
    assert rows and all(r.sum_charge >= r.sum_disc_price > 0 for r in rows)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
