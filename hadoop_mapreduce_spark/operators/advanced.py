"""Advanced SQL surface (SURVEY.md §2.EXT wave 4): map-typed columns,
higher-order array functions, unpivot/melt, IGNORE NULLS windows (LOCF),
boolean/conditional aggregates, regexp_extract_all, and a Python UDTF.

These complete the scalar/relational function families of §2.EXT beyond
the first three waves.  Everything except the UDTF stays JVM-side
(whole-stage codegen); the UDTF exists to declare the table-function API
surface and is explicitly documented as the slow path.

Scale notes: all aggregates here are algebraic (partial-agg friendly);
map construction happens *after* the per-group aggregate, so the shuffle
carries scalar counts, never map blobs; the UDTF is Arrow-batched
per-partition with a bounded per-row output (top-K tokens), so output
cardinality is O(rows x K).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.sources.tables import load_table


def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column family: map_from_entries over a grouped collect,
    element_at lookup, size, and map_filter on values.

    The per-(priority,status) counts aggregate FIRST (shuffle carries
    scalar longs); the map is assembled from the tiny post-aggregate
    result, so the map type never crosses an exchange at scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = counts.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderstatus", "cnt")))
        ).alias("status_map")
    )
    big = F.map_filter("status_map", lambda _, v: v > F.lit(50))
    return m.select(
        "o_orderpriority",
        F.size("status_map").cast("long").alias("n_status"),
        F.coalesce(F.element_at("status_map", F.lit("F")), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.element_at("status_map", F.lit("O")), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.element_at("status_map", F.lit("P")), F.lit(0)).cast("long").alias("n_p"),
        F.size(big).cast("long").alias("n_big_status"),
    )


def higher_order_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column: exists /
    forall predicates, transform + aggregate (fused fold with a finish
    lambda), all inside whole-stage codegen — the JVM-side way to do
    per-row vector math without a UDF."""
    e = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    mean = F.aggregate(
        vec,
        F.struct(F.lit(0.0).alias("s"), F.lit(0).alias("c")),
        lambda acc, x: F.struct((acc.s + x).alias("s"), (acc.c + 1).alias("c")),
        lambda acc: acc.s / acc.c,
    )
    sumsq = F.aggregate(
        F.transform(vec, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return e.select(
        "vec_id",
        F.exists(vec, lambda x: x > 0.5).cast("long").alias("any_gt_half"),
        F.forall(vec, lambda x: F.abs(x) < 10.0).cast("long").alias("all_small"),
        # + 0.0 normalises IEEE negative zero (engines disagree on -0.0)
        (F.round(mean, 6) + F.lit(0.0)).alias("mean_val"),
        F.round(sumsq, 6).alias("sum_sq"),
    )


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape: aggregate three measures per returnflag,
    then unpivot (melt) to (flag, measure, value) rows — the inverse of
    the pivot operator already registered."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="value",
    )


def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window family — last-observation-carried-forward
    (LOCF) gap repair, the standard time-series fill: null out 'click'
    readings, then F.last(ignorenulls=True) over an expanding frame
    carries the previous valid value forward; first(ignorenulls=True)
    backfills from the partition start."""
    ev = load_table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") != "click", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.last(v, ignorenulls=True).over(w), 2).alias("locf_value"),
        F.round(F.first(v, ignorenulls=True).over(w_all), 2).alias("first_valid"),
    )


def bool_count_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean / conditional aggregate family: bool_and (EVERY),
    bool_or (ANY), count_if — all algebraic, so map-side partial
    aggregation bounds shuffle volume at O(groups)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000.0).cast("long").alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000.0).cast("long").alias("any_over_400k"),
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        )
    )


def regexp_extract_all_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all + explode: pull every long word (>= 8 letters)
    out of each document and count global frequency — the extract-all
    twin of the single-match regexp functions already registered."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]{8,}"), 0)
        ).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 3)
    )


def udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: one input row fans out to
    many output rows via a LATERAL join — the declarative replacement
    for the reference's flat-map mapper (WordCount.java:73-98), here
    re-tokenising each document and emitting the first 10 tokens with
    ordinals.

    UDTFs are the Python slow path (like row UDFs); this exists to
    declare the API surface.  The same result is achievable JVM-side
    with posexplode(split(...)) — registered as array_explode_pos — and
    that form is the 100 TB path.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class TokenizeFirst10:
        def eval(self, text: str):  # noqa: ANN001 — UDTF contract
            import re

            toks = [
                t
                for t in re.sub(r"[^a-zA-Z0-9\s]+", "", text or "").lower().split()
                if t
            ][:10]
            for i, t in enumerate(toks):
                yield i, t

    spark.udtf.register("tokenize_first10", TokenizeFirst10)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM _udtf_docs d, LATERAL tokenize_first10(d.text) t
        """
    )


def string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic group-concat (SQL LISTAGG / string_agg): nations per
    region as one sorted comma-joined string.  collect_list order is
    nondeterministic under parallel aggregation, so array_sort before
    array_join makes the result stable at any partition count — the only
    safe form of string aggregation on a cluster."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


def bitwise_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and / bit_or / bit_xor): fold the
    customer keys of each order-priority class bit-wise.  All three are
    commutative+associative, so Spark's partial aggregation applies and
    shuffle volume is O(groups) — same scale shape as sum/count."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.bit_and("o_custkey").cast("long").alias("keys_and"),
            F.bit_or("o_custkey").cast("long").alias("keys_or"),
            F.bit_xor("o_custkey").cast("long").alias("keys_xor"),
        )
    )


def udtf_polymorphic_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 polymorphic UDTF: the static analyze() hook computes the
    OUTPUT SCHEMA from the call's literal arguments at plan time — here
    a generic "top-n numeric columns as rows" unpivoter whose output
    column naming depends on the n argument. This is the API for table
    functions whose shape isn't fixed (dynamic pivots, schema-driven
    expanders); the fixed-schema twin is udtf_tokens.

    Python-path declaration query (like udtf_tokens): the JVM-side
    equivalent of this particular call is an unpivot + window top-k,
    and that is the 100 TB path.
    """
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructType,
    )

    @udtf
    class TopNValues:
        @staticmethod
        def analyze(*args):
            from pyspark.sql.functions import AnalyzeResult

            n = args[-1].value  # literal argument drives the schema
            schema = StructType()
            schema = schema.add("rank", IntegerType())
            schema = schema.add("measure", StringType())
            schema = schema.add(f"top{n}_value", DoubleType())
            return AnalyzeResult(schema=schema)

        def eval(self, qty, price, disc, n):  # noqa: ANN001
            vals = sorted(
                [("qty", float(qty)), ("price", float(price)),
                 ("disc", float(disc))],
                key=lambda kv: -kv[1])[: int(n)]
            for i, (name, v) in enumerate(vals):
                yield i + 1, name, v

    spark.udtf.register("topn_values", TopNValues)
    # one canonical row per (orderkey, linenumber): the fixture's key
    # is not unique, and a per-ROW table function would otherwise emit
    # per-duplicate fan-outs the set-based oracle can't express
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 50)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_quantity").alias("l_quantity"),
             F.max("l_extendedprice").alias("l_extendedprice"),
             F.max("l_discount").alias("l_discount"))
    )
    li.createOrReplaceTempView("_udtf_li")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, t.rank, t.measure,
               round(t.top2_value, 2) AS top2_value
        FROM _udtf_li,
        LATERAL topn_values(l_quantity, l_extendedprice, l_discount, 2) t
        """
    )
