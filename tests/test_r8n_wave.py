"""Invariants for the r8n wave (k-core peeling / rolling-HLL sliding
distinct). Oracle parity is enforced by test_oracle_parity_all; these
pin peeling monotonicity + the degree contract of the surviving core,
and the sketch's accuracy against an exact Python rolling distinct."""

from __future__ import annotations

from collections import defaultdict

from hadoop_mapreduce_spark.operators.dedup import (
    _dup_edges,
    kcore_dedup_graph,
)
from hadoop_mapreduce_spark.registry import QUERIES
from hadoop_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_kcore_monotone_and_converged_core_degree_contract(spark):
    rows = kcore_dedup_graph(spark, SF_DIR).collect()
    assert len(rows) == 12  # k in {2,3} x rounds 0..5
    by_k = defaultdict(list)
    for r in rows:
        by_k[r.k].append(r)
    edges = [(r.id1, r.id2) for r in
             _dup_edges(spark, SF_DIR, 0.5).collect()]
    n0_nodes = len({v for e in edges for v in e})
    for k, seq in sorted(by_k.items()):
        seq.sort(key=lambda r: r.peel_round)
        # round 0 is the input graph
        assert seq[0].n_nodes == n0_nodes
        assert seq[0].n_edges == len(edges)
        # peeling is monotone non-increasing in both counts
        for a, b in zip(seq, seq[1:]):
            assert b.n_nodes <= a.n_nodes
            assert b.n_edges <= a.n_edges
        # exact Python replay of the fixed-round peel
        cur = list(edges)
        for rnd in range(1, 6):
            deg = defaultdict(int)
            for u, v in cur:
                deg[u] += 1
                deg[v] += 1
            cur = [(u, v) for u, v in cur
                   if deg[u] >= k and deg[v] >= k]
            assert seq[rnd].n_edges == len(cur)
            assert seq[rnd].n_nodes == len({v for e in cur for v in e})
        # converged (two equal consecutive rows) => every survivor has
        # degree >= k inside the surviving edge set
        if seq[-1].n_edges == seq[-2].n_edges:
            deg = defaultdict(int)
            for u, v in cur:
                deg[u] += 1
                deg[v] += 1
            assert all(d >= k for d in deg.values())
    # the 3-core is a subgraph of the 2-core at every round
    for a, b in zip(by_k[2], by_k[3]):
        assert b.n_nodes <= a.n_nodes
        assert b.n_edges <= a.n_edges


def test_rolling_hll_tracks_exact_rolling_distinct(spark):
    rows = QUERIES["rolling_distinct_users_hll"](spark, SF_DIR).collect()
    assert rows == sorted(rows, key=lambda r: r.day)
    ev = load_table(spark, SF_DIR, "events").select("ts", "user_id") \
        .collect()
    by_day = defaultdict(set)
    for r in ev:
        # same integer day arithmetic as the operator (UTC wall clock)
        us = int((r.ts - r.ts.__class__(1970, 1, 1)).total_seconds()
                 * 1_000_000)
        by_day[us // 86_400_000_000].add(r.user_id)
    days = sorted(by_day)
    assert len(rows) == len(days)
    for row, d in zip(rows, days):
        window = [x for x in days if d - 6 <= x <= d]
        assert row.n_days_window == len(window)
        assert row.exact_day_distinct == len(by_day[d])
        exact_roll = len(set().union(*(by_day[x] for x in window)))
        # m=4096 buckets => ~1.6% standard error; at fixture
        # cardinalities the linear-counting branch is near-exact
        assert abs(row.est_rolling_distinct - exact_roll) \
            <= max(2, int(0.05 * exact_roll))
        assert row.n_buckets_hit <= exact_roll
    # by day 7 the window must be calendar-full
    assert all(r.n_days_window == 7 for r in rows[6:])
