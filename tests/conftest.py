from __future__ import annotations

import os

import pytest

# Smaller parallelism for the tiny test datasets: 32-thread scheduling
# overhead dominates otherwise. Must be set before the first get_spark().
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# The engine sizes its one local JVM like the node it runs on (32g heap
# by default). One test session builds every registered query in that
# JVM, and with a 32g ceiling the heap grows until the kernel kills it on
# a 16 GB host (seen mid-way through test_plan_audit); the fixtures need
# a fraction of this.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_DIR = "/root/testdata/sf0.001"
# the next fixture up, for tests whose defect only shows at a larger scale
SF_DIR_01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

# Two-tier suite (r9, VERDICT r8 item 6): the hypothesis fuzz harness
# (test_differential_fuzz.py) re-runs query↔oracle comparisons on
# generated inputs, coverage the driver's own per-round correctness gate
# and tools/oracle_check.py already provide at larger SFs, so it is
# marked `deep`: skipped by default and enabled with
# SPARK_GRAFT_DEEP_TESTS=1. The full-registry parity sweep
# (test_oracle_parity_all.py) runs in the default tier.
DEEP_TESTS = os.environ.get("SPARK_GRAFT_DEEP_TESTS", "") == "1"


def union_find_components(nodes, edges) -> dict:
    """Reference connected components: {node: least node of its
    component} over ``nodes`` and every endpoint of ``edges`` (pairs in
    any orientation; duplicates and self-loops allowed). Roots always
    attach under the smaller root, so every root is its set's minimum."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for v in nodes:
        find(v)
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "deep: hypothesis fuzz tier — skipped unless "
        "SPARK_GRAFT_DEEP_TESTS=1 (driver pytest-window budget, r9)")


def pytest_collection_modifyitems(config, items):
    if DEEP_TESTS:
        return
    skip = pytest.mark.skip(
        reason="deep tier: set SPARK_GRAFT_DEEP_TESTS=1 to run the "
               "hypothesis fuzz sweep")
    for item in items:
        if item.get_closest_marker("deep"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from hadoop_mapreduce_spark import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con
