"""Wave-3 relational surface (TPC-H Q2/Q8/Q9/Q11/Q13/Q15/Q16/Q17/Q20/Q21
shapes) + embedding-cosine near-dup: oracle parity at sf0.001 and plan /
semantic invariants the oracle hash can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators.dedup import (
    dedup_embedding_cosine,
    dedup_embedding_lsh,
    embedding_cosine_pairs,
    srp_signatures,
)
from hadoop_mapreduce_spark.plans.explain import static_plan_text
from hadoop_mapreduce_spark.registry import ORACLE, QUERIES
from tests.conftest import SF_DIR

WAVE3 = [
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q13_order_distribution",
    "q15_top_supplier",
    "q16_supplier_part_count",
    "q17_small_qty_revenue",
    "q20_excess_suppliers",
    "q21_waiting_supplier",
    "dedup_embedding_cosine",
    "tfidf_top_terms",
]


def _norm(rows, cols):
    return sorted(tuple(str(v) for _, v in sorted(zip(cols, r))) for r in rows)


@pytest.mark.parametrize("name", WAVE3)
def test_wave3_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    got = _norm([tuple(r) for r in df.collect()], df.columns)
    cur = duck.execute(ORACLE[name])
    want = _norm(cur.fetchall(), [d[0] for d in cur.description])
    assert got == want


def test_q20_is_semi_join(spark):
    plan = static_plan_text(QUERIES["q20_excess_suppliers"](spark, SF_DIR))
    assert "LeftSemi" in plan


def test_q13_distribution_covers_every_customer(spark):
    """The left join (ON-side filter) must keep every customer exactly
    once — the distribution's custdist column sums to the customer count,
    including any zero-order bucket."""
    rows = QUERIES["q13_order_distribution"](spark, SF_DIR).collect()
    n_cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    assert sum(r.custdist for r in rows) == n_cust
    # and the ON-side filter really removed urgent orders from the counts
    n_nonurgent = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .where(F.col("o_orderpriority") != "1-URGENT").count()
    )
    assert sum(r.c_count * r.custdist for r in rows) == n_nonurgent


def test_embedding_cosine_planted_dup(spark):
    """A vector duplicated under a new id must appear as a pair with
    cosine ~1; an orthogonal vector must not pair with anything."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [2.0, 4.0, 6.0]), (3, [-3.0, 0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    pairs = {(r.id1, r.id2): r.cosine for r in embedding_cosine_pairs(vecs, 0.9).collect()}
    assert set(pairs) == {(1, 2)}
    assert abs(pairs[(1, 2)] - 1.0) < 1e-9


def test_srp_signature_deterministic(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(20)
    s1 = {r.id: tuple(r[1:]) for r in srp_signatures(emb, n_bits=8).collect()}
    s2 = {r.id: tuple(r[1:]) for r in srp_signatures(emb, n_bits=8).collect()}
    assert s1 == s2


def test_embedding_lsh_subset_of_exact_with_high_recall(spark):
    """Every LSH pair is a true pair (verify step guarantees precision 1);
    recall against the exact all-pairs result stays high."""
    exact = {(r.id1, r.id2) for r in dedup_embedding_cosine(spark, SF_DIR).collect()}
    approx = {(r.id1, r.id2) for r in dedup_embedding_lsh(spark, SF_DIR).collect()}
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.8


def test_sample_seeded_deterministic_and_sized(spark):
    a = QUERIES["sample_seeded"](spark, SF_DIR).collect()
    b = QUERIES["sample_seeded"](spark, SF_DIR).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    total = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    # a 10% hash sample: expect ~10%, allow wide tolerance for small N
    assert 0.03 * total <= len(a) <= 0.25 * total


def test_sample_stratified_respects_fractions(spark):
    rows = {r.o_orderstatus: r.n_sampled for r in
            QUERIES["sample_stratified"](spark, SF_DIR).collect()}
    full = {r.o_orderstatus: r.n for r in
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).collect()}
    # the 100%-kept stratum is exact; downsampled strata are well below it
    assert rows.get("P", 0) == full.get("P", 0)
    for s in ("F", "O"):
        if s in full:
            assert rows.get(s, 0) < 0.2 * full[s]


def test_histogram_equidepth_is_equi_depth(spark):
    """Buckets partition all rows, per-bucket counts are ~N/k (exact
    percentile edges), and [lo, hi] ranges are ordered and disjoint."""
    from tests.conftest import SF_DIR

    from hadoop_mapreduce_spark.operators.relational import histogram_equidepth

    rows = sorted(histogram_equidepth(spark, SF_DIR).collect(),
                  key=lambda r: r.bucket)
    total = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    assert sum(r.n for r in rows) == total
    assert [r.bucket for r in rows] == list(range(10))
    for r in rows:
        assert abs(r.n - total / 10) <= total * 0.02 + 2
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo


def test_quantile_histogram_portable_brackets_exact(spark):
    """The histogram estimate must land within one bin width of the
    EXACT percentile (the equi-width error bound), counts must be
    consistent, and quantiles must be monotone per group."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.operators.relational import (
        quantile_histogram_portable,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    rows = quantile_histogram_portable(spark, SF_DIR).collect()
    assert len(rows) == 9  # 3 statuses x 3 quantiles
    orders = load_table(spark, SF_DIR, "orders")
    stats = {
        r.o_orderstatus: r for r in orders.groupBy("o_orderstatus").agg(
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
            F.expr("percentile(o_totalprice, 0.25)").alias("q25"),
            F.expr("percentile(o_totalprice, 0.5)").alias("q50"),
            F.expr("percentile(o_totalprice, 0.75)").alias("q75"),
        ).collect()
    }
    exact_col = {0.25: "q25", 0.5: "q50", 0.75: "q75"}
    by_group: dict[str, list] = {}
    for r in rows:
        s = stats[r.o_orderstatus]
        w = (s.mx - s.mn) / 256.0
        exact = getattr(s, exact_col[r.q])
        assert abs(r.est_value - exact) <= w + 1e-9, (
            r.o_orderstatus, r.q, r.est_value, exact, w)
        assert 0 <= r.bin_idx <= 255
        assert r.cum_count <= r.n_total
        by_group.setdefault(r.o_orderstatus, []).append(r)
    for g, rs in by_group.items():
        rs = sorted(rs, key=lambda r: r.q)
        ests = [r.est_value for r in rs]
        assert ests == sorted(ests), (g, ests)


def test_customer_rfm_segments_quintiles(spark):
    """Quintile scores are 1..5, every customer lands in exactly one
    cell, and the monetary dimension is monotone: the mean spend of
    m_score=5 cells exceeds m_score=1 cells."""
    from hadoop_mapreduce_spark.operators.relational import (
        customer_rfm_segments,
    )
    from tests.conftest import SF_DIR

    rows = customer_rfm_segments(spark, SF_DIR).collect()
    assert rows
    n_cust = sum(r.n_customers for r in rows)
    import duckdb
    expect = duckdb.sql(
        f"SELECT count(DISTINCT o_custkey) FROM "
        f"'{SF_DIR}/orders.parquet'").fetchone()[0]
    assert n_cust == expect
    for r in rows:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5
        assert 1 <= r.m_score <= 5
    m5 = [r.mean_spend_cents for r in rows if r.m_score == 5]
    m1 = [r.mean_spend_cents for r in rows if r.m_score == 1]
    assert min(m5) > max(m1)


def test_orders_cohort_ltv_triangle(spark):
    """Triangle invariants on real fixtures: k >= 0, cumulative spend
    is non-decreasing within a cohort, total spend across cells equals
    total order spend in cents, and cohort sizes at k=0 sum to the
    customer count."""
    import duckdb

    from hadoop_mapreduce_spark.operators.relational import (
        orders_cohort_ltv,
    )
    from tests.conftest import SF_DIR

    rows = orders_cohort_ltv(spark, SF_DIR).collect()
    assert rows and all(r.k >= 0 for r in rows)
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault((r.cohort_year, r.cohort_month0),
                             []).append(r)
    for rs in by_cohort.values():
        rs.sort(key=lambda r: r.k)
        assert rs[0].k == 0  # every cohort starts at its birth month
        cums = [r.cum_spend_cents for r in rs]
        assert cums == sorted(cums)
        assert cums[-1] == sum(r.spend_cents for r in rs)
    total = duckdb.sql(
        f"SELECT sum((o_totalprice::DECIMAL(18,2)*100)::BIGINT) FROM "
        f"'{SF_DIR}/orders.parquet'").fetchone()[0]
    assert sum(r.spend_cents for r in rows) == total


def test_orders_abc_pareto_classes(spark, tmp_path):
    """Four parts with revenue 70/20/8/2 (no discount): cumulative
    shares 70/90/98/100 -> A={p1} (<=80), B={p2} (<=95), C={p3,p4};
    revenue is exact 1e-4-dollar units and shares floor micro-units."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.relational import (
        orders_abc_pareto,
    )
    from datetime import datetime

    prices = [(1, 70.0), (2, 20.0), (3, 8.0), (4, 2.0)]
    n = len(prices)
    tbl = pa.table({
        "l_orderkey": pa.array(range(n), pa.int64()),
        "l_partkey": pa.array([p for p, _ in prices], pa.int64()),
        "l_suppkey": pa.array([1] * n, pa.int64()),
        "l_linenumber": pa.array([1] * n, pa.int64()),
        "l_quantity": pa.array([1.0] * n, pa.float64()),
        "l_extendedprice": pa.array([v for _, v in prices], pa.float64()),
        "l_discount": pa.array([0.0] * n, pa.float64()),
        "l_tax": pa.array([0.0] * n, pa.float64()),
        "l_returnflag": pa.array(["N"] * n, pa.string()),
        "l_linestatus": pa.array(["O"] * n, pa.string()),
        "l_shipdate": pa.array([datetime(2024, 1, 1)] * n,
                               pa.timestamp("us")),
    })
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
    out = {r.abc_class: r for r in
           orders_abc_pareto(spark, str(tmp_path)).collect()}
    assert (out["A"].n_parts, out["B"].n_parts, out["C"].n_parts) == (1, 1, 2)
    assert int(out["A"].revenue_e4) == 70_00 * 100
    assert out["A"].share_e6 == 700_000
    assert (out["A"].first_rank, out["C"].first_rank,
            out["C"].last_rank) == (1, 3, 4)


def test_orders_interarrival_and_status_flow(spark, tmp_path):
    """Customer 1 orders on days 0, 10, 40 (gaps 10 and 30; mean 20);
    customer 2 has a single order -> NULL gap stats. Status sequence
    O -> P -> F for customer 1 yields transitions O->P and P->F with
    probability 1e6 each."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.relational import (
        order_status_flow, orders_interarrival_profile,
    )

    rows = [
        (1, 1, "O", datetime(2024, 1, 1)),
        (2, 1, "P", datetime(2024, 1, 11)),
        (3, 1, "F", datetime(2024, 2, 10)),
        (4, 2, "O", datetime(2024, 1, 5)),
    ]
    tbl = pa.table({
        "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
        "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
        "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
        "o_totalprice": pa.array([10.0] * 4, pa.float64()),
        "o_orderdate": pa.array([r[3] for r in rows], pa.timestamp("us")),
        "o_orderpriority": pa.array(["1"] * 4, pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))

    prof = {r.o_custkey: r for r in
            orders_interarrival_profile(spark, str(tmp_path)).collect()}
    c1 = prof[1]
    assert (c1.n_orders, c1.n_gaps, c1.min_gap_days, c1.max_gap_days) == (
        3, 2, 10, 30)
    assert c1.mean_gap_micro_days == 20_000_000
    c2 = prof[2]
    assert (c2.n_orders, c2.n_gaps, c2.mean_gap_micro_days) == (1, 0, None)

    flow = {(r.from_status, r.to_status): r for r in
            order_status_flow(spark, str(tmp_path)).collect()}
    assert flow[("O", "P")].n == 1 and flow[("O", "P")].p_e6 == 1_000_000
    assert flow[("P", "F")].n == 1 and flow[("P", "F")].p_e6 == 1_000_000
    assert ("O", "F") not in flow


def test_skyline_quality_frontier_dominance(spark, tmp_path):
    """Hand-built plane: (10,5) (8,9) (10,3) (6,9) (4,1) and a duplicate
    of (8,9).  Skyline = (10,5), both (8,9)s; (6,9) is dominated by
    (8,9) (strict in x, equal y), (10,3) by (10,5), (4,1) by all."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # distinct_tokens = number of distinct words; n_chars set explicitly
    def words(k, tag):
        return " ".join(f"{tag}{i}" for i in range(k))

    texts = [words(5, "a"), words(9, "b"), words(3, "c"), words(9, "d"),
             words(1, "e"), words(9, "f")]
    nch = [10, 8, 10, 6, 4, 8]
    tbl = pa.table({
        "doc_id": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * 6, pa.string()),
        "source": pa.array(["s"] * 6, pa.string()),
        "n_chars": pa.array(nch, pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = QUERIES["skyline_quality_frontier"](spark, str(tmp_path)).collect()
    assert {(r.doc_id, r.n_chars, r.distinct_tokens) for r in out} == {
        (1, 10, 5), (2, 8, 9), (6, 8, 9)}
    # ordered by n_chars desc then doc_id
    assert [r.doc_id for r in out] == [1, 2, 6]


def test_basket_part_pairs_support_and_lift(spark, tmp_path):
    """4 orders: {1,2} {1,2} {1,3} {2}.  Pair (1,2) support 2 (>= min),
    (1,3) support 1 (filtered).  lift(1,2) = 2*4/(3*3) = 8/9 ->
    888888 micro-units (floor)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.relational import (
        basket_part_pairs,
    )

    rows = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3), (4, 2),
            (1, 1)]  # duplicate line in order 1 must not double-count
    tbl = pa.table({
        "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
        "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
        "l_suppkey": pa.array([1] * len(rows), pa.int64()),
        "l_linenumber": pa.array(list(range(len(rows))), pa.int32()),
        "l_quantity": pa.array([1.0] * len(rows), pa.float64()),
        "l_extendedprice": pa.array([1.0] * len(rows), pa.float64()),
        "l_discount": pa.array([0.0] * len(rows), pa.float64()),
        "l_tax": pa.array([0.0] * len(rows), pa.float64()),
        "l_returnflag": pa.array(["N"] * len(rows), pa.string()),
        "l_linestatus": pa.array(["O"] * len(rows), pa.string()),
        "l_shipdate": pa.array(
            [__import__("datetime").datetime(2024, 1, 1)] * len(rows),
            pa.timestamp("us")),
    })
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
    out = basket_part_pairs(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.p1, r.p2, r.support, r.cnt1, r.cnt2) == (1, 2, 2, 3, 3)
    assert r.lift_e6 == 2 * 4 * 1_000_000 // 9


def test_customer_entity_blocking_blocks_and_distance(spark, tmp_path):
    """Same-block pairs within lev<=2 only: names differing in 1-2
    chars match; a 3-char difference or a different nation/segment
    never pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.relational import (
        customer_entity_blocking,
    )

    rows = [
        (1, "Customer#000000001", 1, "AUTO", 100.00),
        (2, "Customer#000000002", 1, "AUTO", 50.00),     # lev 1 to #1
        (3, "Customer#000000333", 1, "AUTO", 100.00),    # lev 3 to #1
        (4, "Customer#000000004", 2, "AUTO", 100.00),    # other nation
        (5, "Customer#000000005", 1, "BUILDING", 100.00),  # other seg
        (6, "Customer#000000021", 1, "AUTO", 300.00),    # lev 1 to #1
    ]
    tbl = pa.table({
        "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
        "c_name": pa.array([r[1] for r in rows], pa.string()),
        "c_nationkey": pa.array([r[2] for r in rows], pa.int32()),
        "c_acctbal": pa.array([r[4] for r in rows], pa.float64()),
        "c_mktsegment": pa.array([r[3] for r in rows], pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "customer.parquet"))
    out = {(r.id1, r.id2): r for r in
           customer_entity_blocking(spark, str(tmp_path)).collect()}
    assert set(out) == {(1, 2), (1, 6), (2, 6)}
    assert out[(1, 2)].name_lev == 1
    assert out[(1, 6)].name_lev == 1
    assert out[(2, 6)].name_lev == 2
    assert out[(1, 2)].balance_close  # |100-50| = 50 <= 100
    assert not out[(1, 6)].balance_close  # |100-300| = 200 > 100


def _write_lineitem(tmp_path, rows):
    """rows: list of (orderkey, partkey, suppkey, returnflag)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
        "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
        "l_suppkey": pa.array([r[2] for r in rows], pa.int64()),
        "l_linenumber": pa.array(list(range(len(rows))), pa.int32()),
        "l_quantity": pa.array([1.0] * len(rows), pa.float64()),
        "l_extendedprice": pa.array([1.0] * len(rows), pa.float64()),
        "l_discount": pa.array([0.0] * len(rows), pa.float64()),
        "l_tax": pa.array([0.0] * len(rows), pa.float64()),
        "l_returnflag": pa.array([r[3] for r in rows], pa.string()),
        "l_linestatus": pa.array(["O"] * len(rows), pa.string()),
        "l_shipdate": pa.array(
            [__import__("datetime").datetime(2024, 1, 1)] * len(rows),
            pa.timestamp("us")),
    })
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))


def test_part_supplier_hhi_mono_vs_dual(spark, tmp_path):
    """Part 1: 6 lines all supplier 1 -> HHI 1e6 (single-sourced).
    Part 2: 3+3 lines across two suppliers -> HHI = (9+9)/36 = 0.5."""
    from hadoop_mapreduce_spark.operators.relational import (
        part_supplier_hhi,
    )

    rows = [(i, 1, 1, "N") for i in range(6)]
    rows += [(10 + i, 2, 1, "N") for i in range(3)]
    rows += [(20 + i, 2, 2, "N") for i in range(3)]
    _write_lineitem(tmp_path, rows)
    out = {r.partkey: r for r in
           part_supplier_hhi(spark, str(tmp_path)).collect()}
    assert out[1].hhi_e6 == 1_000_000 and out[1].n_suppliers == 1
    assert out[2].hhi_e6 == 500_000 and out[2].n_suppliers == 2


def test_part_return_rate_wilson_small_sample_discount(spark, tmp_path):
    """Part 1: 5/10 returns; part 2: 9/10. The Wilson lower bound ranks
    part 2 first but sits well below its raw 90% rate."""
    import math

    from hadoop_mapreduce_spark.operators.relational import (
        part_return_rate_wilson,
    )

    rows = [(i, 1, 1, "R" if i < 5 else "N") for i in range(10)]
    rows += [(100 + i, 2, 1, "R" if i < 9 else "N") for i in range(10)]
    _write_lineitem(tmp_path, rows)
    out = [r for r in part_return_rate_wilson(spark, str(tmp_path)).collect()]
    assert out[0].partkey == 2 and out[1].partkey == 1
    r2 = out[0]
    assert r2.rate_e6 == 900_000
    z = 1.96
    lower = ((9 + z*z/2 - z * math.sqrt(9 * 1 / 10 + z*z/4)) / (10 + z*z))
    assert abs(r2.wilson_lower - math.floor(lower * 1e6 + 0.5) / 1e6) < 1e-9
    assert r2.wilson_lower < 0.9  # the bound discounts the small sample


def test_supply_bipartite_profile_degrees(spark, tmp_path):
    """3 parts x suppliers: p1-{s1}, p2-{s1,s2}, p3-{s1,s2,s3}:
    part-side degrees 1,2,3; supplier degrees s1=3, s2=2, s3=1."""
    from hadoop_mapreduce_spark.operators.relational import (
        supply_bipartite_profile,
    )

    rows = [(1, 1, 1, "N"), (2, 2, 1, "N"), (3, 2, 2, "N"),
            (4, 3, 1, "N"), (5, 3, 2, "N"), (6, 3, 3, "N"),
            (7, 3, 3, "N")]  # duplicate edge must not double-count
    _write_lineitem(tmp_path, rows)
    out = {(r.side, r.degree): r.n_nodes for r in
           supply_bipartite_profile(spark, str(tmp_path)).collect()}
    assert out[("part", 1)] == 1 and out[("part", 2)] == 1
    assert out[("part", 3)] == 1
    assert out[("supplier", 1)] == 1 and out[("supplier", 2)] == 1
    assert out[("supplier", 3)] == 1
