"""Relational operator surface over the star schema (SURVEY.md §2.EXT Stage 1-2).

Every query here is declarative DataFrame code — Catalyst handles predicate
pushdown, column pruning, and join planning.  Scale conventions used
throughout (targets: 1000 executors / 100 TB):

  * small dimensions (region 5, nation 25, supplier, part) are explicitly
    ``F.broadcast`` — at any scale these stay broadcast-able, which turns
    every dim join into a map-side hash join (no shuffle of the fact table);
  * fact-fact joins (orders x lineitem, customer x orders) shuffle on the
    join key — AQE's skew-join splitting (on in session.py) handles hot keys;
  * aggregates rely on Spark's always-on partial (map-side) aggregation,
    the declarative twin of the reference's combiner (WordCount.java:150);
  * every query filters *before* joining so pushdown reaches the scan.

Each function takes (spark, sf_dir) and returns a DataFrame whose column
names match the oracle SQL in registry.py exactly (driver hashes by
sorted column name).  Float aggregates are rounded to fixed decimals so
summation-order noise can't flip a comparison bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.portable import (
    hll_estimate,
    hll_rho,
    in_sample,
)
from hadoop_mapreduce_spark.sources.tables import load_table, sql_view


def _sql(spark: SparkSession, sf_dir: str, template: str, *tables: str) -> DataFrame:
    """Build a query as ONE spark.sql() round trip over sf-scoped views.

    The TPC-H-shaped headliners are semantically SQL; building them as a
    py4j method chain costs 25-40 driver round trips (measured 0.1-0.2 s
    per BUILD, re-paid on every execution), where the parser produces
    the identical Catalyst plan in one call. Plan-shape decisions
    (broadcast dims, filter placement below joins/aggs) stay explicit as
    hints and query structure — see sources.tables.sql_view."""
    views = {t: sql_view(spark, sf_dir, t) for t in tables}
    return spark.sql(template.format(**views))


# --------------------------------------------------------------------------
# TPC-H-style compound queries
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: big scan, tight filter, 2-key aggregate.

    The whole query is one scan + one shuffle-on-(returnflag,linestatus);
    partial aggregation collapses 600k (or 6B) rows to ~8 groups map-side,
    so shuffle volume is O(#groups x #tasks) regardless of data size.
    """
    return _sql(spark, sf_dir, """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                    AS sum_qty,
               round(sum(l_extendedprice), 2)                               AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4)                                    AS avg_qty,
               round(avg(l_extendedprice), 4)                               AS avg_price,
               round(avg(l_discount), 4)                                    AS avg_disc,
               count(1)                                                     AS count_order
        FROM {lineitem}
        WHERE l_shipdate <= '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
    """, "lineitem")


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filters pushed below the joins, top-10.

    customer is filtered to one segment before joining (pushdown), the
    join chain shuffles on o_custkey then o_orderkey, and the top-10 is
    TakeOrderedAndProject — no global sort materialisation.
    """
    return _sql(spark, sf_dir, """
        SELECT o_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(o_orderdate AS STRING)                       AS o_orderdate,
               o_orderpriority
        FROM {customer}
        JOIN {orders}   ON c_custkey = o_custkey
        JOIN {lineitem} ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'FURNITURE'
          AND o_orderdate < '1998-06-01'
          AND l_shipdate  > '1998-06-01'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate ASC, o_orderkey ASC
        LIMIT 10
    """, "customer", "orders", "lineitem")


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with two broadcast dims.

    region/nation/supplier are broadcast (map-side joins); only
    customer-orders-lineitem shuffle. Join order: filter region first so
    the nation broadcast is already region-pruned.
    """
    return _sql(spark, sf_dir, """
        SELECT /*+ BROADCAST(s), BROADCAST(n), BROADCAST(r) */
               n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM {customer} c
        JOIN {orders}   o ON c.c_custkey = o.o_custkey
        JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
        JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
                         AND c.c_nationkey = s.s_nationkey
        JOIN {nation}   n ON s.s_nationkey = n.n_nationkey
        JOIN {region}   r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1998-01-01'
          AND r.r_name = 'ASIA'
        GROUP BY n_name
    """, "customer", "orders", "lineitem", "supplier", "nation", "region")


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate reaches
    the parquet scan as a pushed filter (verify via explain PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate used as a semi-join filter."""
    return _sql(spark, sf_dir, """
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM {lineitem}
            GROUP BY l_orderkey
            HAVING sum(l_quantity) > 150
        )
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_orderdate AS STRING) AS o_orderdate,
               o_totalprice,
               round(total_qty, 2)         AS total_qty
        FROM {orders}
        JOIN big        ON o_orderkey = big.l_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """, "lineitem", "orders", "customer")


# --------------------------------------------------------------------------
# Projection / filter / scalar-function families
# --------------------------------------------------------------------------

def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / BETWEEN / LIKE / null-safe predicates, all pushdown-eligible."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.where(
            F.col("p_brand").isin("Brand#13", "Brand#5")
            & F.col("p_size").between(5, 25)
            & F.col("p_type").like("ECONOMY%")
            & F.col("p_name").isNotNull()
        )
        .select("p_partkey", "p_name", "p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
    )


def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed columns: arithmetic, CASE WHEN, string concat."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.col("l_orderkey"),
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            # floor(x*100+0.5)/100 instead of round(): Spark rounds the
            # shortest decimal repr (HALF_UP) while DuckDB rounds the raw
            # binary double, which disagree exactly on .xx5 boundaries —
            # this formula is bit-identical in both engines.
            (
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100 + 0.5)
                / 100.0
            ).alias("net_charge"),
            F.when(F.col("l_discount") >= 0.05, F.lit("HIGH")).otherwise(F.lit("LOW")).alias("disc_band"),
            F.concat_ws("-", F.col("l_returnflag"), F.col("l_linestatus")).alias("flag_status"),
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .where(F.col("ship_year") == 1999)
    )


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar family over part."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey"),
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("long").alias("brand_num"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar family over orders."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").cast("string").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).cast("long").alias("days_to_2002"),
        F.last_day(F.col("o_orderdate")).cast("string").alias("month_end"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar family over lineitem (outputs rounded for engine parity)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.round(F.abs(F.col("l_extendedprice") - 50000.0), 2).alias("abs_dev"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1.0), 6).alias("price_ln"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.round(F.pow(F.col("l_discount"), 2), 6).alias("disc_sq"),
        F.pmod(F.col("l_orderkey"), 7).alias("key_mod7"),
    )


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar family over embeddings (size/element/slice aggregate)."""
    e = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    return e.select(
        F.col("vec_id"),
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(vec, 1), 6).alias("first_val"),
        F.round(
            F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("vec_sum"),
        F.round(F.array_max(vec), 6).alias("vec_max"),
        F.round(F.array_min(vec), 6).alias("vec_min"),
        F.size(F.filter(vec, lambda x: x > 0)).cast("long").alias("n_pos"),
    )


def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props + grouped aggregate of the field."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


# --------------------------------------------------------------------------
# Join family
# --------------------------------------------------------------------------

def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast join: customer x nation x region — zero fact shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with zero orders (null-extended)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join: customers WITH a high-value order minus those
    with any 'F' order — expressed as left_semi then left_anti."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    high = orders.where(F.col("o_totalprice") > 200000).select("o_custkey")
    fstat = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        cust.join(high, cust.c_custkey == high.o_custkey, "left_semi")
        .join(fstat, cust.c_custkey == fstat.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny dims (both broadcast — no shuffle at all)."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    seg = load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return region.crossJoin(F.broadcast(seg))


def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (theta) join: lineitems shipped within 90 days of
    their order date. The equi key keeps it a hash join; the range
    predicate is a post-join filter — at scale this is the right plan
    (pure theta joins degrade to broadcast-nested-loop)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= o.o_orderdate)
            & (li.l_shipdate <= F.date_add(o.o_orderdate.cast("date"), 90)),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_fast_ship"))
    )


def join_self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self range join on events: pairs of events by the same user within
    5 minutes. Equi key (user_id) bounds the quadratic blowup to within-
    user groups; at scale add a time-bucket key to cap group size.

    The window compares exact MICROsecond epochs (unix_micros /
    epoch_us) on both engines: second-granularity comparison was
    engine-dependent at the boundary — Spark's unix_timestamp floors
    while DuckDB's epoch()::BIGINT rounds, which flipped one pair at
    sf0.1 (caught by the r6 full-registry sf0.1 oracle run; invisible
    at sf0.01)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    a, b = ev.alias("a"), ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.abs(F.expr("timestampdiff(MICROSECOND, a.ts, b.ts)"))
               <= 300 * 1_000_000),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# Aggregation family
# --------------------------------------------------------------------------

def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count-distinct + plain aggregates per group (expand-based distinct)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region, nation): subtotal + grand-total rows, null-marked."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    joined = cust.join(nation, cust.c_nationkey == nation.n_nationkey).join(
        region, nation.n_regionkey == region.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"), F.round(F.sum("c_acctbal"), 2).alias("bal"))
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (returnflag, linestatus): all 2^2 grouping combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING — post-aggregation predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_items"), F.round(F.sum("l_extendedprice"), 2).alias("volume"))
        .where(F.col("n_items") > 500)
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type through the portable
    HyperLogLog of functions/portable.py: registers are the max rho per
    (event_type, bucket) over the distinct (event_type, user_id) pairs,
    then one estimate per event type. Registers merge by bucket-wise
    max, so partials from any split combine to the same sketch, and the
    oracle rebuilds them bit for bit; the exact variant is
    agg_distinct."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    rb = hll_rho(du, ["event_type"], F.col("user_id").cast("string"))
    regs = rb.groupBy("event_type", "bucket").agg(F.max("rho").alias("r"))
    return hll_estimate(regs, ["event_type"], "approx_users")


# --------------------------------------------------------------------------
# Window family
# --------------------------------------------------------------------------

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — rank-and-filter window.

    At scale this shuffles once on the partition key; no global sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("long").alias("rn"))
    )


def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over suppliers by account balance."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return s.select(
        "s_suppkey",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer in order-date order (rowsBetween frame)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + delta per user over the events stream (batch analytic)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.round(F.col("value") - F.lag("value", 1).over(w), 2).alias("delta"),
    )


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rangeBetween frame: count of orders within +/-30 days (value range,
    not row offsets) per customer."""
    o = load_table(spark, sf_dir, "orders")
    day = F.expr("timestampdiff(DAY,"
                 " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)")
    w = Window.partitionBy("o_custkey").orderBy(day.cast("long")).rangeBetween(-30, 30)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("orders_within_30d"),
    )


# --------------------------------------------------------------------------
# Sort / limit / set ops
# --------------------------------------------------------------------------

def sort_multi_key_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort + limit → TakeOrderedAndProject (heap-k per
    partition, k-merge on driver; never a full sort at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", F.col("l_linenumber").cast("long").alias("l_linenumber"), "l_extendedprice", "l_shipdate")
        .withColumn("l_shipdate", F.col("l_shipdate").cast("string"))
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(50)
    )


def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer key sets."""
    o = load_table(spark, sf_dir, "orders")
    f_cust = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    p_cust = o.where(F.col("o_orderstatus") == "P").select("o_custkey")
    both = f_cust.intersect(o_cust)
    only_fo = both.exceptAll(p_cust.distinct()).distinct()
    return only_fo.withColumnRenamed("o_custkey", "custkey")


def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName over heterogeneous entity tables (customer + supplier)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_acctbal").alias("acctbal"),
        F.col("s_nationkey").cast("long").alias("nationkey"),
        F.col("s_name").alias("name"),
    )
    return (
        cust.unionByName(supp)
        .groupBy("kind", "nationkey")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("acctbal"), 2).alias("bal"))
    )


def distinct_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a projected key set."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .dropDuplicates()
    )


# --------------------------------------------------------------------------
# TPC-H-style compounds, second wave (adapted to the fixture columns —
# the fixtures carry no partsupp/l_shipmode, so Q2/Q12/Q16 shapes are
# re-expressed on the columns that exist; the *operator* shapes match)
# --------------------------------------------------------------------------

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join, then count per priority.

    left_semi keeps the orders scan as the only surviving side — the
    lineitem probe never materialises joined rows, so shuffle volume is
    the filtered orders alone (the classic EXISTS plan at scale).
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    # EXISTS: any lineitem shipped strictly after the order date
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    exists = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        exists.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-nation flow — supplier nation x customer nation
    revenue per ship-year, for one nation pair in both directions.

    nation is broadcast twice under different aliases; the fact chain
    shuffles only on its natural keys. The nation-pair predicate is
    applied after both dim joins but before aggregation.
    """
    n1 = F.broadcast(load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")))
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") <= F.lit("1997-12-31")))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        pair.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.

    Filters (returnflag, date window) sit below the joins; the final
    top-20 compiles to TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1997-07-01")))
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q12_shipping_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no l_shipmode in the fixture): CASE-sum
    aggregation — high/low-priority order counts per shipping-lag band.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (
        F.when(lag_days <= 30, "FAST")
        .when(lag_days <= 60, "NORMAL")
        .otherwise("SLOW")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(band.alias("lag_band"), high.alias("is_high"))
        .groupBy("lag_band")
        .agg(
            F.sum("is_high").alias("high_line_count"),
            F.sum(1 - F.col("is_high")).alias("low_line_count"),
        )
    )


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-sum ratio over one month (promo
    revenue share). part is broadcast; single aggregate, no group key."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01")) & (F.col("l_shipdate") < F.lit("1997-04-01")))
    part = F.broadcast(load_table(spark, sf_dir, "part").select("p_partkey", "p_type"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(F.round(F.sum(promo) * 100.0 / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    predicates as the JOIN condition. The equi-key (partkey) keeps this a
    hash join; the OR-of-ANDs residual is evaluated post-probe — never a
    cartesian."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(load_table(spark, sf_dir, "part"))
    cond = (li.l_partkey == part.p_partkey) & (
        ((part.p_brand == "Brand#1") & (part.p_size <= 15) & (li.l_quantity >= 1) & (li.l_quantity <= 30))
        | ((part.p_brand == "Brand#2") & (part.p_size <= 25) & (li.l_quantity >= 5) & (li.l_quantity <= 40))
        | ((part.p_brand == "Brand#3") & (part.p_size <= 35) & (li.l_quantity >= 10) & (li.l_quantity <= 50))
    )
    return li.join(part, cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global average) + anti join.

    The average is computed once and broadcast via cross-join of a 1-row
    DataFrame (Spark's scalar-subquery plan); customers with no *recent*
    orders (none since 2000-06-01 — the fixture gives every customer at
    least one order overall) are found with left_anti — no correlated
    per-row subquery execution.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-06-01")).select("o_custkey")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("avg_bal"))
    no_orders = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        no_orders.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
        .select(F.col("c_nationkey").cast("long").alias("c_nationkey"), "numcust", "totacctbal")
    )


# --------------------------------------------------------------------------
# Pivot / grouping sets / full outer / correlated subquery / statistics
# --------------------------------------------------------------------------

def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per market segment x order status. Explicit
    pivot values keep the output schema static (no extra distinct scan —
    required for a stable plan at scale)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "c_mktsegment",
            F.col("F").alias("n_f"), F.col("O").alias("n_o"), F.col("P").alias("n_p"),
        )
    )


def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id: (flag,status), (flag),
    grand total — the general form of rollup/cube."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("volume"),
        )
    )


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-nation customer and supplier rollups —
    nations may exist on either side only; coalesce reconciles the key."""
    cust = (
        load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 9000)
        .groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
        .select(
            F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).cast("long").alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
    )


def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above 1.5x their customer's average — the classic
    correlated scalar subquery, decorrelated by hand into aggregate +
    re-join (exactly what Catalyst's decorrelation rewrite produces)."""
    orders = load_table(spark, sf_dir, "orders")
    cust_avg = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.avg("o_totalprice").alias("cust_avg"))
    return (
        orders.join(cust_avg, orders.o_custkey == cust_avg.k)
        .where(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        # cust_avg itself is NOT output: a double average lands on exact
        # .xx5 rounding boundaries for some groups, where the two engines'
        # summation orders round apart. The filter uses the full-precision
        # value; the selected columns are exact.
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: stddev/variance (sample), Pearson
    correlation, sample covariance — per returnflag."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
            # + 0.0 normalises IEEE negative zero (round can emit -0.0,
            # and the two engines disagree on which zero they produce)
            (F.round(F.corr("l_extendedprice", "l_quantity"), 6) + F.lit(0.0)).alias("price_qty_corr"),
            (F.round(F.covar_samp("l_discount", "l_tax"), 6) + F.lit(0.0)).alias("disc_tax_covar"),
        )
    )


def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per order status: median
    and quartiles of o_totalprice. Exact percentile is a full-sort-per-
    group operation; the approx_percentile twin (rows-only) is the scale
    path for 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median"),
            F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H-style compounds, third wave — completes all 22 TPC-H query shapes
# (the fixtures carry no partsupp / l_receiptdate / l_commitdate /
# p_container / p_mfgr, so Q2/Q9/Q11/Q16/Q17/Q20/Q21 are re-expressed on
# the columns that exist; the operator shape of each query is preserved)
# --------------------------------------------------------------------------

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-cost supplier per part (correlated min subquery).

    partsupp doesn't exist in the fixture, so unit cost is derived from
    lineitem (min extendedprice/quantity per part-supplier). The Q2
    pattern survives intact: an aggregate subquery computes the per-part
    minimum, and an equi-join on (partkey, cost == min) selects the
    winners. Both aggregates are partial-agg friendly; part/supplier/
    nation are broadcast so the only shuffle is the lineitem groupBy.
    """
    # Plan shape (kept explicit in the SQL):
    #   * the part predicate is pushed BELOW the aggregate via a
    #     broadcast LEFT SEMI join — the per-part min is computed within
    #     each partkey, so dropping non-qualifying parts first is
    #     semantics-preserving and shrinks the agg input by the filter's
    #     selectivity (~5%), instead of hash-aggregating every
    #     (partkey, suppkey) pair only to discard 95% of the groups;
    #   * per-part minimum via a window over the aggregate, not a second
    #     aggregate + self-join (one computation of `unit`);
    #   * floor(x*1e4+0.5)/1e4 instead of round(): price/qty lands
    #     exactly on .xxxx5 half-boundaries (4-decimal price / 2), where
    #     engine round() directions disagree; floor on the binary double
    #     is engine-identical.
    return _sql(spark, sf_dir, """
        WITH unit AS (
            SELECT /*+ BROADCAST(pk) */ l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS unit_cost
            FROM {lineitem}
            LEFT SEMI JOIN (
                SELECT p_partkey FROM {part}
                WHERE p_size BETWEEN 1 AND 15 AND p_type = 'STANDARD'
            ) pk ON l_partkey = pk.p_partkey
            GROUP BY l_partkey, l_suppkey
        ),
        best AS (
            SELECT l_partkey, l_suppkey, unit_cost,
                   min(unit_cost) OVER (PARTITION BY l_partkey) AS best_cost
            FROM unit
        )
        SELECT /*+ BROADCAST(p), BROADCAST(s), BROADCAST(n) */
               p_partkey, p_name, s_name, n_name,
               floor(unit_cost * 10000 + 0.5) / 10000 AS unit_cost
        FROM best
        JOIN {part}     p ON l_partkey = p.p_partkey
        JOIN {supplier} s ON l_suppkey = s.s_suppkey
        JOIN {nation}   n ON s.s_nationkey = n.n_nationkey
        WHERE unit_cost = best_cost
          AND p.p_size BETWEEN 1 AND 15 AND p.p_type = 'STANDARD'
        ORDER BY unit_cost, p_partkey, s_name
        LIMIT 100
    """, "lineitem", "part", "supplier", "nation")


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's yearly revenue.

    Conditional-sum over a 7-way join; all dims broadcast, the fact
    chain shuffles once per fact-fact key. The share division happens
    after aggregation (2 rows), not per-row.
    """
    region = F.broadcast(load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE"))
    n_cust = F.broadcast(load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")))
    n_supp = F.broadcast(load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")))
    part = F.broadcast(load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY"))
    supp = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01")))
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load_table(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flow = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n_cust, cust.c_nationkey == F.col("cn_key"))
        .join(region, F.col("cn_rkey") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n_supp, supp.s_nationkey == F.col("sn_key"))
        .select(F.year("o_orderdate").cast("long").alias("o_year"),
                volume.alias("volume"), F.col("supp_nation"))
    )
    return (
        flow.groupBy("o_year")
        .agg(F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0))
            / F.sum("volume"), 6).alias("mkt_share"))
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year.

    No partsupp/ps_supplycost in the fixture — cost is modelled as
    0.5 * p_retailprice * quantity, keeping the profit-expression shape
    (revenue minus quantity-scaled cost) and the %substring% part filter.
    """
    part = F.broadcast(load_table(spark, sf_dir, "part").where(F.col("p_name").contains("red")))
    supp = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value exceeds a fraction of the
    national total (aggregate + scalar-subquery threshold).

    Value per part is lineitem volume from suppliers of three nations;
    the threshold side is a 1-row aggregate joined by crossJoin —
    broadcast-trivial at any scale.
    """
    supp = F.broadcast(load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")))
    li = load_table(spark, sf_dir, "lineitem")
    val = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    # cutoff = 3x the average per-part value — scale-invariant (TPC-H's
    # fixed fraction of the total would converge to zero rows as the
    # part count grows with SF)
    threshold = val.agg((F.avg("value") * 3.0).alias("cutoff"))
    return (
        val.crossJoin(F.broadcast(threshold))
        .where(F.col("value") > F.col("cutoff"))
        .select(F.col("l_partkey").alias("p_partkey"), F.round("value", 2).alias("value"))
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer count by order count (left join with an ON-side
    filter, double aggregation). The ON-clause predicate keeps customers
    with zero surviving orders (count 0 bucket) — semantically distinct
    from a WHERE, and the reason this is a left join."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(cust.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max revenue in a quarter (the VIEW +
    scalar-max pattern). Revenue is rounded to 2dp *before* the max
    comparison on both engines so summation-order noise can't split a
    tie across engines."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-04-01")))
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part attribute group
    (partsupp replaced by the lineitem part-supplier bridge)."""
    part = F.broadcast(load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5") & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))))
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost to small-quantity orders (correlated AVG
    subquery against the same fact table). The per-part average is a
    separate aggregate joined back on partkey — the decorrelated plan
    Catalyst itself would produce for the subquery form."""
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3"))
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("ap_key"))
        .agg((F.avg("l_quantity") * 0.5).alias("half_avg"))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap_key"))
        .where(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped a large quantity of PROMO
    parts in 1997 (nested EXISTS chain re-expressed as aggregate +
    semi-join; partsupp availability replaced by shipped quantity)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01")))
    part = F.broadcast(load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
                       .select("p_partkey"))
    shipped = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        supp.join(shipped, supp.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole late supplier in multi-supplier orders.

    The classic EXISTS / NOT-EXISTS pair over lineitem is re-expressed
    as one per-(order, supplier) aggregate + one per-order aggregate —
    two shuffles total instead of two extra joins against the fact
    table, which is the right trade at 100 TB (late = shipped > 60 days
    after order date; the fixture has no receipt/commit dates).
    """
    return _sql(spark, sf_dir, """
        WITH per_supp AS (
            SELECT l_orderkey, l_suppkey,
                   max(CAST(l_shipdate > date_add(o_orderdate, 60) AS LONG)) AS late
            FROM {lineitem}
            JOIN {orders} ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
            GROUP BY l_orderkey, l_suppkey
        ),
        per_order AS (
            SELECT l_orderkey,
                   max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
            FROM per_supp
            GROUP BY l_orderkey
            HAVING count(1) > 1 AND sum(late) = 1
        )
        SELECT /*+ BROADCAST(s) */ s_name, count(1) AS numwait
        FROM per_order
        JOIN {supplier} s ON late_supp = s.s_suppkey
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC
        LIMIT 100
    """, "lineitem", "orders", "supplier")


def approx_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (t-digest style percentile_approx with
    accuracy 1000) — the sketch twin of percentile_stats: mergeable
    across partitions, so at 100 TB the shuffle carries one digest per
    group instead of the values a sort-based exact percentile needs.
    Registered rows-only: sketch outputs are implementation-defined.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.percentile_approx("o_totalprice", 0.25, 1000).alias("p25"),
            F.percentile_approx("o_totalprice", 0.5, 1000).alias("median"),
            F.percentile_approx("o_totalprice", 0.75, 1000).alias("p75"),
        )
    )


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / ntile
    over orders by total price within each status partition."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey", "o_orderstatus",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
    )


def json_from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json with an explicit schema (vs the
    path-extraction in json_functions) — struct field access, null-safe
    handling of malformed documents."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", "k INT").alias("p"),
    )
    return (
        parsed.select(
            "event_id",
            F.col("p.k").cast("long").alias("k"),
            F.col("p").isNotNull().cast("int").cast("long").alias("valid"),
        )
    )


def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded 10% sample of orders by the portable keep rule
    ``in_sample`` (h60 of the seed-42-keyed order key, mod 100, below
    10): membership depends on the key alone, so the sample is the same
    at any cluster size or file layout, and the oracle selects the
    same rows."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where(in_sample(F.col("o_orderkey").cast("string"), 10, 42))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample with a keep rate per order status (5% of F and
    of O, all of P, none of any other status) — the class-rebalancing
    pattern of a training-data pipeline — by the keep rule of
    sample_seeded."""
    orders = load_table(spark, sf_dir, "orders")
    status = F.col("o_orderstatus")
    pct = (F.when(status.isin("F", "O"), F.lit(5))
           .when(status == "P", F.lit(100)).otherwise(F.lit(0)))
    return (
        orders.where(in_sample(F.col("o_orderkey").cast("string"), pct, 42))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


def array_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode with ordinality: posexplode of the embedding array
    (first 4 elements) — the UNNEST WITH ORDINALITY shape."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    return (
        emb.select(
            "vec_id",
            F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 4))
            .alias("pos", "val"),
        )
        .select("vec_id", F.col("pos").cast("long").alias("pos"),
                F.round("val", 6).alias("val"))
    )


def string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalar functions: levenshtein between part name and
    type, plus a length-normalised similarity — dedup-adjacent fuzzy
    matching at the scalar level (exact DP algorithm, engine-portable)."""
    part = load_table(spark, sf_dir, "part")
    lev = F.levenshtein("p_name", "p_type")
    maxlen = F.greatest(F.length("p_name"), F.length("p_type"))
    return (
        part.select(
            "p_partkey",
            lev.cast("long").alias("lev_name_type"),
            F.round(1 - lev / maxlen, 6).alias("name_type_sim"),
        )
    )


def mode_median_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 aggregate surface: mode() (deterministic=true for the
    lowest-value tie-break, matching DuckDB's tie rule) and median()
    per market segment — one keyed aggregation."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("mode(c_nationkey, true)").cast("long")
            .alias("mode_nation"),
            F.round(F.median("c_acctbal"), 2).alias("median_bal"),
        )
    )


def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface: try_divide / try_add / try_to_number
    return NULL instead of raising on bad input — the ingestion-hygiene
    twin of read_csv_strict, per-row (one projection + one rollup).
    Exercised on a synthetic divisor that hits zero, an overflow-prone
    sum, and a numeric parse of the order-priority prefix."""
    o = load_table(spark, sf_dir, "orders")
    denom = F.col("o_orderkey") % 7
    return (
        o.select(
            "o_orderstatus",
            F.try_divide(F.col("o_totalprice"), denom).alias("per_bucket"),
            F.try_add(F.col("o_orderkey"),
                      F.lit(9223372036854775807)).alias("overflow_add"),
            F.try_to_number(F.regexp_extract("o_orderpriority",
                                             r"([0-9]+)", 1),
                            F.lit("999999999")).alias("priority_num"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("per_bucket").isNull().cast("long"))
            .alias("n_div_by_zero"),
            F.sum(F.col("overflow_add").isNull().cast("long"))
            .alias("n_overflow"),
            # avg of DECIMAL stays DECIMAL (prints 3.00, not 3.0) —
            # cast to double for the engine-portable representation
            F.round(F.avg("priority_num").cast("double"), 2)
            .alias("avg_priority_num"),
        )
    )


def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of order totals: decile edges from exact
    percentiles, then one scan assigns each row to its bucket — the
    optimizer-statistics / feature-binning primitive (equi-WIDTH bins
    mislead on skewed money-like columns; equi-depth puts ~N/k rows in
    every bucket by construction, which is also why real optimizers
    store this shape).

    Plan: one percentile aggregation produces the (k-1)-edge array in a
    single 1-row relation, broadcast back; bucket id = "how many edges
    is the value above" via size(filter(edges, e -> v > e)) — a pure
    scan-side array fold over a 9-element constant, no join, no second
    shuffle beyond the final per-bucket aggregation. Edges are rounded
    to 4 dp before the comparison so both engines bin against
    bit-identical boundaries (the events_anomaly_mad convention); the
    t-digest approx_percentile is the 100 TB swap, same plan shape.
    """
    buckets = 10
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    qs = ", ".join(str(round((i + 1) / buckets, 4))
                   for i in range(buckets - 1))
    edges = orders.agg(F.expr(
        f"transform(percentile(o_totalprice, array({qs})), e -> round(e, 4))"
    ).alias("edges"))
    bucket = F.size(F.filter(
        F.col("edges"), lambda e: F.col("o_totalprice") > e)).cast("long")
    return (
        orders.crossJoin(F.broadcast(edges))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


def quantile_histogram_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable histogram quantiles: p25/median/p75 of order
    totals per status from a 256-bin equi-width histogram — the
    hash-paired twin of ``approx_percentile_stats`` (whose t-digest
    output is implementation-defined), completing the portable-sketch
    trio (HLL: hll_portable_union; CMS: heavy_hitters_cms; quantiles:
    here). The histogram is the mergeable quantile sketch a 100 TB
    groupBy ships: 256 exact BIGINT counts per group, merged by
    addition, with rank interpolation only at read time.

    Determinism chain: bin edges come from the group's exact min/max
    doubles; the bin index is one float divide + floor over those; all
    counts are exact BIGINTs; the estimate is mn + w*(bin + (q*n -
    cum_prev)/cnt) — float ops over exact inputs, identical in any
    IEEE engine, rounded at 6 dp. A zero-width group (all values
    equal) short-circuits to that value.

    Scale shape: one row-level projection against a broadcast 1-row-
    per-group stats relation, one (group, bin) exchange (map-side
    combinable), a bins-bounded cumulative window, and a 3-quantile
    projection per group.
    """
    bins = 256
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.groupBy("o_orderstatus").agg(
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    w_ = (F.col("mx") - F.col("mn")) / F.lit(float(bins))
    binned = (
        orders.join(F.broadcast(stats), "o_orderstatus")
        .select(
            "o_orderstatus",
            F.when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(F.least(
                F.lit(bins - 1),
                F.floor((F.col("o_totalprice") - F.col("mn")) / w_)))
            .cast("int").alias("b"),
        )
    )
    hist = binned.groupBy("o_orderstatus", "b").agg(
        F.count(F.lit(1)).alias("cnt"))
    wcum = (Window.partitionBy("o_orderstatus").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.select(
        "o_orderstatus", "b", "cnt",
        F.sum("cnt").over(wcum).alias("cum"))
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("q"))
    # first bin whose cumulative count reaches the target rank
    target = F.col("q") * F.col("n")
    picked = (
        cum.join(F.broadcast(stats), "o_orderstatus")
        .crossJoin(F.broadcast(qs))
        .where(F.col("cum") >= target)
        .groupBy("o_orderstatus", "q")
        .agg(F.min_by(
            F.struct("b", "cnt", "cum", "mn", "mx", "n"), F.col("b"))
            .alias("s"))
        .select("o_orderstatus", "q", "s.*")
    )
    w2 = (F.col("mx") - F.col("mn")) / F.lit(float(bins))
    est = F.when(
        F.col("mx") == F.col("mn"), F.col("mn")
    ).otherwise(
        F.col("mn") + w2 * (
            F.col("b")
            + (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt")))
            / F.col("cnt")))
    return (
        picked.select(
            "o_orderstatus", "q",
            F.round(est, 6).alias("est_value"),
            F.col("b").cast("long").alias("bin_idx"),
            F.col("cum").cast("long").alias("cum_count"),
            F.col("n").cast("long").alias("n_total"),
        )
    )


def customer_rfm_segments(spark, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM cube: every customer scored
    1-5 on Recency (last order day), Frequency (order count) and
    Monetary (lifetime spend), rolled up to segment cells. ntile(5)
    quintiles with a full (metric, custkey) total order so bucket
    boundaries are deterministic on both engines; spend is summed in
    exact cents (DECIMAL) before any scoring. Output <= 125 cells with
    member counts and mean spend — the activation/churn targeting table.

    Plan: one groupBy(custkey) over orders collapses the data-sized
    relation first; the three ntile windows then run over one row per
    customer (orders/|customer| ~ 10x smaller, and the window carries
    only 4 columns). The global sort is the honest cost here — at a
    scale where the CUSTOMER dimension itself no longer sorts in one
    pass, swap the ntiles for the two-phase distributed rank used by
    vocab_coverage_curve (textstats.py) and derive the bucket from the
    rank arithmetic; fixture-scale keeps the simpler plan.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.expr("timestampdiff(MICROSECOND,"
                     " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
                     " DIV 86400000000")).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
    ).select(
        "o_custkey", "last_day", "freq",
        (F.col("spend") * 100).cast("long").alias("spend_cents"),
    )
    scored = per_cust.select(
        "o_custkey", "spend_cents",
        F.ntile(5).over(
            Window.orderBy(F.asc("last_day"), F.asc("o_custkey")))
        .alias("r_score"),
        F.ntile(5).over(
            Window.orderBy(F.asc("freq"), F.asc("o_custkey")))
        .alias("f_score"),
        F.ntile(5).over(
            Window.orderBy(F.asc("spend_cents"), F.asc("o_custkey")))
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("spend_cents").alias("sc"),
        )
        .select(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
            F.col("n_customers").cast("long").alias("n_customers"),
            F.expr("sc div n_customers").alias("mean_spend_cents"),
        )
    )


def orders_cohort_ltv(spark, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-order
    month, each cohort's spend tracked by months-since-first-order —
    the revenue twin of events_retention_cohorts' activity triangle,
    and the table a subscription/commerce business reads LTV curves
    from. Month arithmetic is integer (year*12 + month) on both
    engines — never months_between(), whose fractional semantics
    differ. Spend in exact DECIMAL-derived cents; the cumulative
    column is a per-cohort running sum over the <=|months| triangle
    rows, not over orders.

    Plan: one groupBy(custkey) for cohort assignment (min month), one
    broadcast-joined groupBy to the (cohort, k) grain, one bounded
    window for the cumsum. Output rows = cohorts x months.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year(F.col("o_orderdate")) * 12
         + F.month(F.col("o_orderdate"))).alias("ym"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"),
    )
    first = orders.groupBy("o_custkey").agg(F.min("ym").alias("ym0"))
    cells = (
        orders.join(first, "o_custkey")
        .groupBy(
            F.col("ym0").alias("cohort_ym"),
            (F.col("ym") - F.col("ym0")).alias("k"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum("cents").alias("spend_cents"),
        )
    )
    w = (Window.partitionBy("cohort_ym").orderBy("k")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        cells.select(
            F.expr("cohort_ym div 12").alias("cohort_year"),
            F.expr("cohort_ym % 12").alias("cohort_month0"),
            F.col("k").cast("long").alias("k"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("spend_cents").cast("long").alias("spend_cents"),
            F.sum("spend_cents").over(w).cast("long")
            .alias("cum_spend_cents"),
        )
    )


def orders_abc_pareto(spark, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by lineitem revenue: class
    A carries the first 80% of cumulative revenue, B to 95%, C the
    tail — the inventory-prioritisation cube next to RFM in every
    commerce warehouse.

    Exactness: per-line revenue is the ALL-INTEGER product
    cents(l_extendedprice) x (100 − discount_pct), i.e. units of 1e-4
    dollars, summed as DECIMAL(38,0) (HUGEINT on the oracle) so no
    float ever orders the ranking; class boundaries are the integer
    comparisons 100·cum ≤ 80·total / 95·total. Revenue shares are
    floor micro-units.

    Scale note: the cumulative window ranks the per-PART aggregate —
    dimension-sized, not fact-sized. Like customer_rfm_segments, the
    single-sort-pass window is the right local plan; past ~10⁸ parts
    swap in the two-phase rank (range-partitioned sort + per-partition
    offsets — the session_concurrency bucket-offset pattern).
    """
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    rev4 = (
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        * (100 - (F.col("l_discount").cast("decimal(4,2)") * 100)
           .cast("long"))
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    # Persisted: the dimension-sized per-part aggregate feeds both the
    # rank window and the grand total — without it each branch re-runs
    # the lineitem scan + aggregation.
    per_part = scoped_persist(li.groupBy("l_partkey").agg(
        F.sum(rev4.cast("decimal(38,0)")).alias("rev")))
    w = Window.orderBy(F.desc("rev"), F.asc("l_partkey"))
    ranked = (
        per_part
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("cum", F.sum("rev").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    total = per_part.groupBy().agg(F.sum("rev").alias("total"))
    cls = (
        F.when(F.lit(100) * F.col("cum") <= F.lit(80) * F.col("total"),
               "A")
        .when(F.lit(100) * F.col("cum") <= F.lit(95) * F.col("total"),
              "B")
        .otherwise("C")
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(cls.alias("abc_class"), "rev", "rnk", "total")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            # output as BIGINT, never DECIMAL (registered outputs ban
            # Decimal — the r5 driver-flake class); the internal cumsum
            # stays exact DECIMAL(38,0). BIGINT caps at $9e14 in 1e-4
            # units per class — far past any real corpus total.
            F.sum("rev").cast("long").alias("revenue_e4"),
            F.expr("CAST(sum(rev) * 1000000 DIV any_value(total) AS BIGINT)")
            .alias("share_e6"),
            F.min("rnk").cast("long").alias("first_rank"),
            F.max("rnk").cast("long").alias("last_rank"),
        )
    )


def orders_interarrival_profile(spark, sf_dir: str) -> DataFrame:
    """Per-customer order inter-arrival profile: gap statistics between
    consecutive orders in exact integer DAYS — the purchase-cadence
    read behind replenishment and churn models (a customer whose
    max_gap dwarfs their mean_gap has lapsed at least once; burstiness
    = max/mean separates steady subscribers from spike buyers).

    One shuffle on o_custkey; the lag window and the rollup share it.
    All statistics are exact integers (mean gap in micro-days by floor
    division); customers with a single order are real rows with NULL
    gap stats, not dropped — churn models need them.
    """
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
               " DIV 86400000000").alias("day"))
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = orders.select(
        "o_custkey", "day",
        (F.col("day") - F.lag("day").over(w)).alias("gap"))
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("day").cast("long").alias("first_day"),
            F.max("day").cast("long").alias("last_day"),
            F.count("gap").cast("long").alias("n_gaps"),
            F.min("gap").cast("long").alias("min_gap_days"),
            F.max("gap").cast("long").alias("max_gap_days"),
            # count(gap) = 0 for single-order customers — guard the
            # division (ANSI mode turns DIV 0 into an error)
            F.expr("CASE WHEN count(gap) > 0 THEN "
                   "CAST(sum(gap) * 1000000 DIV count(gap) AS BIGINT) "
                   "END").alias("mean_gap_micro_days"),
        )
    )


def order_status_flow(spark, sf_dir: str) -> DataFrame:
    """Order-status transition matrix: for each customer's orders in
    date order, count (status → next status) transitions and their
    per-source-status probability — the first-order Markov view of how
    order books evolve (pairs with `events_session_bigrams`, which is
    the same read over event streams).

    One shuffle on o_custkey (lag window), then a |statuses|²-bounded
    rollup; probabilities are exact micro-units from integer counts.
    """
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        F.col("o_orderdate").alias("dt"))
    w = Window.partitionBy("o_custkey").orderBy("dt", "o_orderkey")
    pairs = (
        orders.select(
            F.col("o_orderstatus").alias("from_status"),
            F.lead("o_orderstatus").over(w).alias("to_status"))
        .where(F.col("to_status").isNotNull())
    )
    g = pairs.groupBy("from_status", "to_status").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    wt = Window.partitionBy("from_status")
    return (
        g.withColumn("from_total", F.sum("n").over(wt))
        .select(
            "from_status", "to_status", "n",
            F.expr("n * 1000000 DIV from_total").alias("p_e6"),
        )
    )


def skyline_quality_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) operator over two document quality
    signals — docs not dominated on (n_chars, distinct whitespace
    tokens), both maximised.  The classic Börzsönyi et al. SKYLINE OF
    operator, absent from both Spark and the reference's surface
    (extends SURVEY.md §2 op-10's per-key aggregation to preference
    queries).

    A point p is dominated iff some q has q.x >= p.x and q.y >= p.y
    with at least one strict.  Naive evaluation is the O(n^2)
    NOT-EXISTS self-join (the oracle's spelling).  The distributed plan
    exploits that for a 2-D max-max skyline only the per-x maximum of y
    can survive: one data-sized groupBy(x) collapses the corpus to a
    candidate table bounded by |distinct n_chars| (the document-length
    DOMAIN — hundreds of values at any corpus size, since n_chars is
    capped by the ingest contract), a single-partition window over that
    bounded table marks the strict prefix-max frontier, and the
    frontier (tiny) broadcasts back to pick up every doc sitting
    exactly on a frontier point — ties on both coordinates are mutually
    non-dominating and all emitted, matching SKYLINE semantics.

    At 100 TB: the only data-sized exchanges are the groupBy(x) partial
    agg (map-side combine collapses to <= |domain| rows per task) and
    the broadcast-join scan; the global window never sees data-sized
    input, so the single-reducer hazard of a naive ORDER BY x window is
    structurally avoided.
    """
    from hadoop_mapreduce_spark.functions.text import (
        normalize_text,
        tokenize,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(normalize_text(F.col("text")))
    scored = docs.select(
        "doc_id", "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.array_distinct(toks)).cast("long").alias("distinct_tokens"),
    )
    cand = scored.groupBy("n_chars").agg(
        F.max("distinct_tokens").alias("ymax"))
    w = Window.orderBy(F.col("n_chars").desc()).rowsBetween(
        Window.unboundedPreceding, -1)
    frontier = (
        cand.withColumn("prev", F.max("ymax").over(w))
        # strict: a larger-x point with EQUAL y dominates (strict in x)
        .filter(F.col("ymax") > F.coalesce(F.col("prev"), F.lit(-1)))
        .select(F.col("n_chars").alias("fx"), F.col("ymax").alias("fy"))
    )
    return (
        scored.join(
            F.broadcast(frontier),
            (scored["n_chars"] == F.col("fx"))
            & (scored["distinct_tokens"] == F.col("fy")),
        )
        .select("doc_id", "source", "n_chars", "distinct_tokens")
    )


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase mining over lineitem: part pairs that
    appear together in the same order, with support and lift — the
    frequent-itemset statistic `event_pair_itemsets` computes for event
    streams, applied to the star schema's order/part graph (a genuinely
    different join shape: the pair fan-out rides the ORDER key, not a
    time window).

    Exactness: support counts are BIGINT; lift = support * n_orders /
    (cnt_a * cnt_b) is emitted in micro-units computed in
    DECIMAL(38,0) — the numerator is count^2-scaled and would overflow
    int64 once order counts pass ~3e6 (same overflow posture as
    source_concentration_audit).

    Scale shape (measured: the first cut — distinct + orderkey
    self-join + pair agg — paid THREE data-sized exchanges and ran
    2.3x slower than the baseline at 4x; this form wins): ONE
    data-sized exchange builds per-order sorted distinct part arrays
    (collect_set partial-aggregates map-side), pairs explode from each
    bounded array with NO join (fan-out = basket^2, capped by the
    order contract at ~low-tens), and everything downstream — pair
    counts, per-part counts, the 1-row order count — derives from the
    persisted bounded-array relation.
    """
    from hadoop_mapreduce_spark.session import scoped_persist

    li = load_table(spark, sf_dir, "lineitem")
    per_order = scoped_persist(
        li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("parts")))
    n_orders = per_order.agg(F.count(F.lit(1)).alias("n_orders"))
    part_cnt = (
        per_order.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    )
    # all (i < j) pairs from the sorted array, generated map-side
    # sequence(1, 0) counts DOWN (the ngrams_from_tokens trap), so
    # guard single-part baskets to an empty index array
    starts = F.when(
        F.size("parts") >= 2,
        F.sequence(F.lit(1), F.size("parts") - 1),
    ).otherwise(F.array().cast("array<int>"))
    pair_arrays = per_order.select(
        F.explode(
            F.flatten(F.transform(
                starts,
                lambda i: F.transform(
                    F.sequence(i + 1, F.size("parts")),
                    lambda j: F.struct(
                        F.element_at("parts", i).alias("p1"),
                        F.element_at("parts", j).alias("p2"))),
            ))
        ).alias("pr")
    ).select(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
    pairs = (
        pair_arrays.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 2)
    )
    return (
        pairs
        .join(F.broadcast(part_cnt.select(
            F.col("l_partkey").alias("p1"), F.col("cnt").alias("cnt1"))),
            "p1")
        .join(F.broadcast(part_cnt.select(
            F.col("l_partkey").alias("p2"), F.col("cnt").alias("cnt2"))),
            "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1", "p2",
            F.col("support").cast("long").alias("support"),
            F.col("cnt1").cast("long").alias("cnt1"),
            F.col("cnt2").cast("long").alias("cnt2"),
            F.expr("""CAST((CAST(support AS DECIMAL(38,0)) * n_orders
                      * 1000000) DIV (CAST(cnt1 AS DECIMAL(38,0)) * cnt2)
                      AS BIGINT)""").alias("lift_e6"),
        )
        .orderBy(F.col("support").desc(), "p1", "p2")
        .limit(100)
    )


def customer_entity_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate generation: customers blocked by
    (nation, market segment), pairwise name edit distance scored inside
    each block, match candidates emitted at levenshtein <= max_lev —
    the classic blocking-then-matching ER pipeline (Fellegi-Sunter
    shape) applied to the star schema, a record-linkage surface the
    document dedup family (token/shingle similarity) doesn't cover:
    edit distance sees character transpositions that shingle Jaccard
    misses on short strings.

    Exactness: levenshtein is the same Wagner-Fischer DP on both
    engines — exact integer; the balance-proximity flag compares exact
    cent-scaled BIGINTs (no float).

    Scale: the cross-pair fan-out is confined to blocking buckets
    (|nations| x |segments| keys); within-block pairing is the standard
    ER cost — the blocking key IS the scale knob, and a finer key
    (add name-prefix buckets) drops in without changing the shape.
    The block join shuffles each side once on the blocking key; no
    global product ever forms.
    """
    max_lev = 2
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
        .alias("bal_cents"),
    )
    # the customer file reads as ONE split, and the (broadcast) block
    # join fans out ~n^2/|blocks| pairs from it — without spreading the
    # probe side, every levenshtein runs in a single task (measured:
    # the whole 4x row was one core).  Round-robin is fine: the build
    # side broadcasts, so probe partitioning is unconstrained.
    # The hash key is a single BIGINT (nation*1024 + crc32(segment)
    # bucket) — 25% cheaper probes than the (int, string) composite on
    # 14M pairs; crc32 collisions are made harmless by re-verifying the
    # real segment equality in the join condition.  The banded lev runs
    # INSIDE the condition so non-matches never materialise as rows.
    # Cost attribution (measured at sf0.1, 0.9M pairs): the pair
    # enumeration is the floor (~2.6s); the banded lev adds ~1s; a
    # per-block array-explosion variant hit the same floor (2.9s), so
    # the join shape is kept.
    blocked = cust.select(
        "*",
        (F.col("c_nationkey").cast("long") * F.lit(1024)
         + F.crc32(F.col("c_mktsegment")) % F.lit(1024)).alias("blk"))
    a = blocked.repartition(
        spark.sparkContext.defaultParallelism).alias("a")
    b = F.broadcast(blocked).alias("b")
    pairs = (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
               & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
               & (F.col("a.c_custkey") < F.col("b.c_custkey"))
               & (F.levenshtein(F.col("a.c_name"), F.col("b.c_name"),
                                max_lev) >= 0))
        .select(
            F.col("a.c_nationkey").cast("long").alias("nationkey"),
            F.col("a.c_mktsegment").alias("mktsegment"),
            F.col("a.c_custkey").alias("id1"),
            F.col("b.c_custkey").alias("id2"),
            # threshold form runs the banded O(n*k) DP with early exit
            # (-1 past the bound) instead of the full O(n^2) table —
            # measured 56.5s -> banded at 4x on 2.3M in-block pairs;
            # the oracle keeps plain levenshtein (same values <= k)
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"),
                          max_lev).cast("long").alias("name_lev"),
            (F.abs(F.col("a.bal_cents") - F.col("b.bal_cents"))
             <= F.lit(10000)).alias("balance_close"),
        )
        .where((F.col("name_lev") >= 0)
               & (F.col("name_lev") <= max_lev))
    )
    return pairs


def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage weight estimation over the blocked
    customer pair space: per comparison field, the agreement
    probabilities m = P(agree | match) and u = P(agree | non-match) and
    the log-odds weights ln(m/u) / ln((1-m)/(1-u)) a linkage scorer
    adds per agreeing/disagreeing field (Fellegi & Sunter 1969). The
    weight TABLE is the deliverable — customer_entity_blocking emits
    candidates from ONE rule; these weights let a scorer combine many
    weak fields with principled evidence arithmetic.

    Label source (documented, deterministic): the standard seeded
    estimation — pairs matched by the high-precision rule (name edit
    distance <= 2) form the M sample, all other in-block pairs
    the U sample (no EM; the seed rule is the same one the blocking op
    ships). Comparison fields are deliberately NOT the blocking or seed
    fields: balance within $100, same last-2 name characters, same
    $1000 balance band.

    Exactness: m/u are Laplace-smoothed truncating micro-units
    ((agree+1)*1e6 DIV (n+2), clamped to [1, 999999] so both log
    expressions stay finite); each weight is ONE ln of a ratio of
    exact integers, floor-rounded to micro-nats — the
    lang_source_mutual_info convention.

    Scale: pair fan-out confined to the (nation, segment) blocks —
    identical shape/cost to customer_entity_blocking (the lev label
    runs as a projection on the same stream); everything after is a
    3-row-per-pair explode into a |fields|-row aggregate.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
        .alias("bal_cents"),
    )
    a = cust.repartition(
        spark.sparkContext.defaultParallelism).alias("a")
    b = F.broadcast(cust).alias("b")
    pairs = a.join(
        b, (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey"))
    ).select(
        (F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 2)
         >= 0).alias("is_m"),
        (F.abs(F.col("a.bal_cents") - F.col("b.bal_cents"))
         <= F.lit(10000)).alias("f_bal_close"),
        (F.substring(F.col("a.c_name"), -2, 2)
         == F.substring(F.col("b.c_name"), -2, 2)).alias("f_suffix2"),
        (F.expr("a.bal_cents DIV 100000")
         == F.expr("b.bal_cents DIV 100000")).alias("f_bal_band"),
    )
    fields = pairs.select(
        "is_m",
        F.explode(F.array(
            F.struct(F.lit("bal_close").alias("field"),
                     F.col("f_bal_close").alias("agree")),
            F.struct(F.lit("name_suffix2").alias("field"),
                     F.col("f_suffix2").alias("agree")),
            F.struct(F.lit("bal_band").alias("field"),
                     F.col("f_bal_band").alias("agree")),
        )).alias("fa"),
    ).select("is_m", F.col("fa.field").alias("field"),
             F.col("fa.agree").alias("agree"))
    agg = fields.groupBy("field").agg(
        F.sum(F.col("is_m").cast("long")).cast("long").alias("n_m"),
        F.sum((~F.col("is_m")).cast("long")).cast("long").alias("n_u"),
        F.sum((F.col("is_m") & F.col("agree")).cast("long"))
        .cast("long").alias("agree_m"),
        F.sum(((~F.col("is_m")) & F.col("agree")).cast("long"))
        .cast("long").alias("agree_u"),
    )
    probs = agg.select(
        "field", "n_m", "n_u", "agree_m", "agree_u",
        F.expr("least(999999, greatest(1,"
               " (agree_m + 1) * 1000000 DIV (n_m + 2)))")
        .cast("long").alias("m_e6"),
        F.expr("least(999999, greatest(1,"
               " (agree_u + 1) * 1000000 DIV (n_u + 2)))")
        .cast("long").alias("u_e6"),
    )
    return (
        probs.select(
            "*",
            F.floor(F.log(F.col("m_e6").cast("double") / F.col("u_e6"))
                    * F.lit(1e6) + F.lit(0.5)).cast("long")
            .alias("w_agree_e6"),
            F.floor(F.log((F.lit(1000000) - F.col("m_e6")).cast("double")
                          / (F.lit(1000000) - F.col("u_e6")))
                    * F.lit(1e6) + F.lit(0.5)).cast("long")
            .alias("w_disagree_e6"),
        )
    )


def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk per part: the Herfindahl-Hirschman
    index of supplier shares of each part's line volume — HHI 1e6 =
    single-sourced (the supply-chain single-point-of-failure query),
    HHI → 1e6/|suppliers| = evenly dual/multi-sourced.  The per-PART
    inversion of `source_concentration_audit`'s corpus-level HHI, on
    the star schema's only many-to-many edge (lineitem's part×supplier).

    Exact integers end-to-end: HHI_e6 = Σ cnt_s² · 1e6 DIV total² per
    part (counts are line counts; the squared sums stay far inside
    int64 at any per-part volume since totals are per-part).

    Scale: one (part, supplier) count (map-side combined), one
    part-keyed rollup; top-k by (hhi, volume) is a rank-limit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("cnt"))
    per_part = (
        ps.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("cnt").cast("long").alias("n_lines"),
            F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("s2"),
        )
        .where(F.col("n_lines") >= 5)
        .select(
            F.col("l_partkey").alias("partkey"),
            "n_suppliers", "n_lines",
            F.expr("s2 * 1000000 DIV (n_lines * n_lines)")
            .alias("hhi_e6"),
        )
    )
    return per_part.orderBy(
        F.desc("hhi_e6"), F.desc("n_lines"), "partkey").limit(100)


def part_return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-returning parts WITH statistical confidence: per part, the
    'R' return-flag share plus the Wilson 95% LOWER bound — ranking by
    the bound instead of the raw rate is the standard fix for "2
    returns out of 2 lines looks like 100%" small-sample lies (the
    same reasoning as rrf/bootstrap elsewhere in the repo, as a
    closed-form single-pass query).

    Exactness: n and r are BIGINT; the Wilson bound
      (r + z²/2 − z·sqrt(r(n−r)/n + z²/4)) / (n + z²)
    is evaluated with z in exact milli-units (z_e3 = 1960) so every
    sub-term before the single sqrt is a ratio of exact integers —
    identical doubles cross-engine, floor-rounded 6 dp.

    Scale: one part-keyed conditional count; rank-limit output.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per = (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("long"))
            .cast("long").alias("r"),
        )
        .where(F.col("n") >= 10)
    )
    z = F.lit(1960).cast("double") / F.lit(1000.0)
    n, r = F.col("n").cast("double"), F.col("r").cast("double")
    z2 = z * z
    lower = ((r + z2 / 2
              - z * F.sqrt(r * (n - r) / n + z2 / 4))
             / (n + z2))
    return (
        per.select(
            F.col("l_partkey").alias("partkey"), "n", "r",
            F.expr("r * 1000000 DIV n").alias("rate_e6"),
            (F.floor(lower * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
            .alias("wilson_lower"),
        )
        .orderBy(F.desc("wilson_lower"), F.desc("n"), "partkey")
        .limit(100)
    )


def supply_bipartite_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree profile of the part×supplier bipartite graph: the
    count-of-counts distribution on BOTH sides (how many parts have d
    suppliers; how many suppliers carry d parts) — the structural
    fingerprint read before any co-purchase or substitution analysis
    (a bipartite graph with hub suppliers needs skew handling that a
    uniform one doesn't; `join_skew_audit` measures one join's keys,
    this profiles the relation itself).

    All-integer; the two sides are tagged rows of one unioned
    count-of-counts table.

    Scale: one distinct (part, supplier) projection, two keyed degree
    counts, two bounded count-of-counts rollups.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select("l_partkey", "l_suppkey").distinct()
    from hadoop_mapreduce_spark.session import scoped_persist

    edges = scoped_persist(edges)
    part_deg = edges.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("d"))
    supp_deg = edges.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("d"))
    p = (part_deg.groupBy("d")
         .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
         .select(F.lit("part").alias("side"),
                 F.col("d").cast("long").alias("degree"), "n_nodes"))
    s = (supp_deg.groupBy("d")
         .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
         .select(F.lit("supplier").alias("side"),
                 F.col("d").cast("long").alias("degree"), "n_nodes"))
    return p.unionAll(s)


def algebraic_merge_audit(spark, sf_dir: str):
    """Partial-aggregate merge audit (Chan et al. pairwise-merge
    discipline): per-source (n, sum, sum-of-squares) partials over
    documents.n_chars, the GLOBAL row merged FROM those partials, and
    the GLOBAL row computed directly from raw rows — emitted together
    so the algebraic-merge contract (merged == direct, any partition
    layout, any merge order) is a visible, hash-checked equality rather
    than an assumption. This is the property that makes every two-level
    aggregation in this engine (map-side combine -> final merge) exact,
    and the audit shape a data platform runs when validating a new
    partial-aggregate (sketch, moment, counter) before trusting its
    merge path at 1000 executors.

    All-integer: n_chars is BIGINT; mean in truncating micro-units;
    population variance via (n*ssq - sum^2) * 1e6 DIV n^2 carried in
    DECIMAL(38,0) (HUGEINT on the oracle) — n*ssq alone overflows int64
    at fixture scale.

    Scale: one groupBy(source) partial-agg pass; the global rows are
    |sources|-row and 1-row folds of the partials. Raw rows shuffle
    never.
    """
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("x"))
    partials = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("ssq"),
    )
    merged = partials.agg(
        F.lit("GLOBAL(merged)").alias("source"),
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.sum("ssq").alias("ssq"),
    )
    direct = docs.agg(
        F.lit("GLOBAL(direct)").alias("source"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("ssq"),
    )
    stats = lambda df: df.select(  # noqa: E731
        "source", "n", "s",
        F.expr("CAST(ssq AS DECIMAL(38,0))").cast("string").alias("ssq"),
        F.expr("s * 1000000 DIV n").alias("mean_e6"),
        F.expr("""CAST((CAST(ssq AS DECIMAL(38,0)) * n
                        - CAST(s AS DECIMAL(38,0)) * s) * 1000000
                  DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""")
        .alias("var_e6"),
    )
    return (
        stats(partials)
        .unionByName(stats(merged))
        .unionByName(stats(direct))
    )


def er_survivorship_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the step AFTER entity-resolution
    linkage (`customer_entity_blocking` generates the candidate pairs,
    `fellegi_sunter_weights` scores them; this operator MERGES): matched
    customers are clustered into the exact connected components of the
    lev<=2 pair graph (star-CC, `connected_components_star`),
    and each multi-member cluster emits one golden record under explicit
    survivorship rules — golden id = MIN custkey (stable), surviving
    name = the highest-balance member's (ties to min custkey; the
    most-funded-record-wins rule stands in for recency, which the
    schema lacks), balance = MAX (the standard keep-best policy),
    plus the audit columns (member count, distinct-name count) a
    steward reviews before committing the merge.

    Determinism: blocking confines pairs to equal (nation, segment),
    so every cluster is attribute-homogeneous; a component and its
    minimum custkey are pure functions of the edge set, which the
    oracle labels with the recursive reach CTE. Components are exact
    at any diameter — a fixed count of min-label rounds is not: pair
    chains in the customer graph reach 8 hops from their minimum at
    sf0.01.

    Scale: pair generation is the block-confined ER cost envelope
    (shared shape with customer_entity_blocking); star-CC runs O(log n)
    rounds on the PAIR graph (orders of magnitude below the customer
    relation); survivorship is one rank window + one rollup per cluster.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
        .alias("bal_cents"),
    )
    blocked = cust.select(
        "*",
        (F.col("c_nationkey").cast("long") * F.lit(1024)
         + F.crc32(F.col("c_mktsegment")) % F.lit(1024)).alias("blk"))
    a = blocked.repartition(
        spark.sparkContext.defaultParallelism).alias("a")
    b = F.broadcast(blocked).alias("b")
    pairs = (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
               & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
               & (F.col("a.c_custkey") < F.col("b.c_custkey"))
               & (F.levenshtein(F.col("a.c_name"), F.col("b.c_name"),
                                2) >= 0))
        .select(F.col("a.c_custkey").alias("id1"),
                F.col("b.c_custkey").alias("id2"))
    )
    from hadoop_mapreduce_spark.operators.dedup import (
        connected_components_star,
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    pairs = scoped_persist(pairs)
    nodes = pairs.select(
        F.explode(F.array("id1", "id2")).alias("doc_id")).distinct()
    comp = connected_components_star(nodes, pairs)
    members = comp.join(
        cust, comp["doc_id"] == cust["c_custkey"]).select(
        F.col("comp").alias("cluster"), "c_custkey", "c_name",
        "c_nationkey", "c_mktsegment", "bal_cents")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("bal_cents"), F.asc("c_custkey"))
    ranked = members.withColumn("rn", F.row_number().over(w))
    gold = members.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.countDistinct("c_name").cast("long").alias("n_distinct_names"),
        F.max("bal_cents").cast("long").alias("surviving_bal_cents"),
    )
    surv = ranked.where(F.col("rn") == 1).select(
        "cluster", F.col("c_name").alias("surviving_name"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"))
    return (
        gold.join(surv, "cluster")
        .where(F.col("n_members") >= 2)
        .select(
            F.col("cluster").alias("golden_custkey"),
            "n_members", "n_distinct_names", "surviving_name",
            "surviving_bal_cents", "nationkey", "mktsegment",
        )
    )


def bloom_join_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join audit — the row-level runtime-filter
    decision (Spark's own injected bloom filters, Exadata/Snowflake
    join pruning) measured exactly: build a 2^14-bit Bloom bitmap over
    the BUILDING-segment customers' keys, probe EVERY order against it, and
    report per order-priority how many probe rows the bitmap passes vs
    the exact semi-join truth — the false-positive rate and scan-
    reduction table that decides whether shipping a filter to the
    probe side is worth its build+broadcast cost. Bloom filters have
    no false negatives, so pass ⊇ true and the audit's fp/reduction
    numbers are exact, not estimates.

    Portability: the bitmap is the portable Bloom filter of
    ``functions/portable.py`` (one md5 per key, k arithmetic probes,
    63-bit words) collapsed to a one-row map and broadcast, so the
    oracle rebuilds it bit-identically from the SQL twin; the probe
    test is a pure projection (zero probe-side shuffle before the
    rollup).

    100 TB shape: build side = one scan of the dim subset -> bounded
    bit_or aggregate (<= m_bits/63 rows -> ~KBs broadcast regardless
    of key count); probe side = scan-speed membership projection + one
    bounded groupBy; truth = one broadcast semi-join flag on the same
    scan. This is exactly the plan shape that replaces a shuffled
    semi-join at scale.
    """
    from hadoop_mapreduce_spark.functions.portable import (
        bloom_bitmap,
        bloom_hit,
    )

    m_bits = 1 << 14
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bitmap = bloom_bitmap(cust, F.col("c_custkey").cast("string"), m_bits)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    flagged = orders.crossJoin(F.broadcast(bitmap)).select(
        "o_orderpriority", "o_custkey",
        bloom_hit(F.col("o_custkey").cast("string"), F.col("bm"), m_bits)
        .cast("long").alias("pass_bloom"),
    )
    truth = cust.select(F.col("c_custkey").alias("o_custkey"),
                        F.lit(1).alias("is_match"))
    return (
        flagged
        .join(F.broadcast(truth), "o_custkey", "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probe_rows"),
            F.sum("pass_bloom").cast("long").alias("n_pass_bloom"),
            F.sum(F.coalesce("is_match", F.lit(0))).cast("long")
            .alias("n_true_match"),
        )
        .select(
            "o_orderpriority", "n_probe_rows", "n_pass_bloom",
            "n_true_match",
            (F.col("n_pass_bloom") - F.col("n_true_match"))
            .alias("n_false_pos"),
            F.expr("CASE WHEN n_probe_rows - n_true_match > 0 THEN"
                   " (n_pass_bloom - n_true_match) * 1000000"
                   " DIV (n_probe_rows - n_true_match) ELSE 0 END")
            .cast("long").alias("fp_rate_e6"),
            F.expr("(n_probe_rows - n_pass_bloom) * 1000000"
                   " DIV n_probe_rows").cast("long")
            .alias("scan_reduction_e6"),
        )
    )
