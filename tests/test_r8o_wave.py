"""Invariants for the r8o wave (ER survivorship merge / dictionary-
encoding audit). Oracle parity is enforced by test_oracle_parity_all;
these pin the survivorship rules against an exact Python replay (union-
find ground truth: the clusters are the exact connected components of
the pair graph, at sf0.001 and at sf0.01, where pair chains run 8 hops
deep) and the byte-exact encoding arithmetic."""

from __future__ import annotations

from collections import defaultdict

from hadoop_mapreduce_spark.operators.layout import (
    encoding_dictionary_audit,
)
from hadoop_mapreduce_spark.operators.relational import (
    customer_entity_blocking,
    er_survivorship_golden,
)
from hadoop_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR, SF_DIR_01, union_find_components


def test_survivorship_matches_union_find_ground_truth(spark):
    # sf0.01 has components of diameter > 3, which a fixed count of
    # min-label rounds splits (245 clusters instead of 216)
    for sf_dir in (SF_DIR, SF_DIR_01):
        _check_survivorship(spark, sf_dir)


def _check_survivorship(spark, sf_dir):
    rows = er_survivorship_golden(spark, sf_dir).collect()
    pairs = [(r.id1, r.id2) for r in
             customer_entity_blocking(spark, sf_dir).collect()]
    cust = {r.c_custkey: r for r in
            load_table(spark, sf_dir, "customer").collect()}

    clusters = defaultdict(set)
    for v, root in union_find_components((), pairs).items():
        clusters[root].add(v)
    multi = {root: m for root, m in clusters.items() if len(m) >= 2}

    # the emitted clusters ARE the exact connected components (golden
    # id = min member key)
    assert {r.golden_custkey for r in rows} == set(multi)
    for r in rows:
        m = multi[r.golden_custkey]
        assert r.n_members == len(m)
        assert r.n_distinct_names == len({cust[v].c_name for v in m})
        bal = {v: int(round(cust[v].c_acctbal * 100)) for v in m}
        assert r.surviving_bal_cents == max(bal.values())
        # survivor = highest balance, ties to min custkey
        best = min(m, key=lambda v: (-bal[v], v))
        assert r.surviving_name == cust[best].c_name
        # blocking makes clusters attribute-homogeneous
        assert {cust[v].c_nationkey for v in m} == {r.nationkey}
        assert {cust[v].c_mktsegment for v in m} == {r.mktsegment}


def test_encoding_audit_exact_bytes_and_decision(spark):
    rows = {r.col_name: r for r in
            encoding_dictionary_audit(spark, SF_DIR).collect()}
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag").collect()
    # exact replay for one wide-int and one low-cardinality column
    for col in ("l_orderkey", "l_returnflag"):
        vals = [str(getattr(r, col)) for r in li
                if getattr(r, col) is not None]
        distinct = set(vals)
        r = rows[col]
        assert r.n_rows == len(vals)
        assert r.n_distinct == len(distinct)
        assert r.plain_bytes == sum(len(v) for v in vals)
        nd = len(distinct)
        bits = 1 if nd <= 1 else (nd - 1).bit_length()
        assert r.index_bits == bits
        dict_bytes = sum(len(v) for v in distinct) \
            + (len(vals) * bits + 7) // 8
        assert r.dict_bytes == dict_bytes
        assert r.dict_ratio_e6 == dict_bytes * 1_000_000 // r.plain_bytes
        assert r.recommend == ("DICT" if dict_bytes < r.plain_bytes
                               else "PLAIN")
    # the flag columns are the dictionary poster children (at the tiny
    # fixture even l_orderkey repeats ~4x, so assert the RATIO ordering
    # rather than an absolute PLAIN verdict: fewer distincts => smaller
    # dictionary ratio)
    assert rows["l_returnflag"].recommend == "DICT"
    assert rows["l_linestatus"].recommend == "DICT"
    assert rows["l_returnflag"].dict_ratio_e6 \
        < rows["l_orderkey"].dict_ratio_e6
    assert rows["l_linenumber"].n_distinct < rows["l_partkey"].n_distinct
    assert len(rows) == 6
