"""Change-data-capture apply: MERGE INTO semantics on plain parquet.

The reference engine (and vanilla Hadoop MapReduce generally) has no
mutation story at all — every "update" is a full rewrite. A dataset
pipeline needs the lakehouse primitive: apply a batch of keyed changes
(insert / update / delete) to a snapshot, producing the next snapshot.
Delta/Iceberg implement this as MERGE INTO; on plain parquet the same
semantics are one full-outer join on the key:

      target ⟗ changes ON key
      ├─ change.op = 'D'            → row dropped
      ├─ change.op in ('U','I')     → change's values win
      └─ no change for this key     → target row unchanged

Scale: ONE shuffle of target ∪ changes on the merge key (or zero if
both sides are bucketed by key — sources/tables.py bucketed writes);
changes are usually ≪ target, so AQE turns the join into a broadcast
and the snapshot never shuffles at all. That is the plan shape Delta's
own merge produces after file pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.sources.tables import load_table


def merge_apply(target: DataFrame, changes: DataFrame, key: str,
                seq_col: str | None = None) -> DataFrame:
    """Apply keyed changes to a snapshot (MERGE INTO emulation).

    changes carries the full row payload plus an ``op`` column in
    {'I','U','D'}. Duplicate change rows per key are COMPACTED here
    (not assumed away): last-change-wins by ``seq_col`` when the feed
    carries a change-sequence/LSN column, else by a deterministic
    (op, payload) ordering so the result never depends on partition
    layout. Without compaction a duplicated key would fan out through
    the full-outer join and silently multiply snapshot rows.

    Scale: the compaction is a max_by hash aggregate keyed on the merge
    key — the same key the join shuffles on, so AQE/co-partitioning
    folds both into one exchange of the (small) change set.
    """
    data_cols = [c for c in target.columns]
    payload = [c for c in data_cols if c != key]
    # The ordering is always a struct: with seq_col it leads, and the
    # deterministic (op, payload) tail breaks seq ties — and carries
    # rows whose seq is NULL (a bare NULL order would make max_by skip
    # the row entirely, yielding a ghost null change for keys whose
    # changes all have NULL seq; a null struct FIELD merely sorts
    # lowest, so such rows still compact deterministically).
    lead = [F.col(seq_col)] if seq_col is not None else []
    order = F.struct(*lead, F.col("op"), *[F.col(c) for c in payload])
    compacted = (
        changes.groupBy(key)
        .agg(F.max_by(
            F.struct(F.col("op").alias("op"),
                     *[F.col(c).alias(c) for c in payload]),
            order,
        ).alias("__ch"))
        .select(key, "__ch.*")
    )
    ch = compacted.select(
        F.col(key).alias("__ck"), F.col("op").alias("__op"),
        *[F.col(c).alias(f"__c_{c}") for c in payload],
    )
    joined = target.join(ch, target[key] == F.col("__ck"), "full_outer")
    # deletes vanish; updates/inserts take the change payload; untouched
    # target rows pass through. A change key absent from the target with
    # op='U' upserts (insert) — the defensive merge default.
    keep = F.col("__op").isNull() | (F.col("__op") != F.lit("D"))
    out_cols = [
        F.coalesce(F.col("__ck"), F.col(key)).alias(key)
    ] + [
        F.when(F.col("__op").isin("I", "U"), F.col(f"__c_{c}"))
        .otherwise(F.col(c)).alias(c)
        for c in data_cols if c != key
    ]
    return joined.where(keep).select(*out_cols)


def cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: apply a deterministic synthetic change batch to the
    orders snapshot — keys ≡ 0 (mod 10) get a price bump (update), keys
    ≡ 1 are retired (delete), and a shifted-key copy of keys ≡ 2 arrives
    as new rows (insert). Emits a per-status summary of the NEXT
    snapshot so the result is small and order-stable at any sf.

    The insert-key shift is max(o_orderkey), computed from the data (a
    one-row broadcast, not a driver round-trip): a fixed constant would
    collide with real orderkeys once sf grows past the constant / 6M,
    silently turning inserts into updates.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    mx = orders.agg(F.max("o_orderkey").alias("__mx"))
    updates = (
        orders.where(k % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
        .withColumn("op", F.lit("U"))
    )
    deletes = orders.where(k % 10 == 1).withColumn("op", F.lit("D"))
    inserts = (
        orders.where(k % 10 == 2)
        .crossJoin(F.broadcast(mx))
        .withColumn("o_orderkey", k + F.col("__mx"))
        .drop("__mx")
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("op", F.lit("I"))
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = merge_apply(orders, changes, "o_orderkey")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: build a versioned history from a
    change log, with validity intervals per business key.

    The fixture has no real change feed, so one is derived
    deterministically: each customer's orders become "segment changes"
    (the customer's acct_balance-at-order is modelled as totalprice).
    The SCD2 assembly itself is the general pattern: window by business
    key ordered by change time; valid_from = change ts, valid_to = next
    change's ts (open interval NULL for the current row), version =
    row_number. One shuffle (the window partition), no self-join —
    lag/lead does the interval stitching that a naive implementation
    would do with an O(N^2) range self-join.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
        .withColumn("version", F.row_number().over(w))
        .withColumn("valid_to", F.lead("o_orderdate").over(w))
        .where(F.col("version") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            "version",
            F.col("o_orderdate").cast("string").alias("valid_from"),
            F.col("valid_to").cast("string").alias("valid_to"),
            F.col("o_totalprice").alias("balance"),
        )
    )


def ivm_orders_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-status (count, total
    cents) materialized aggregate is brought up to date by applying
    DELTAS derived from the change batch — the base table is touched
    once for the initial view and never rescanned for the refresh.
    This is the continuous-aggregate refresh contract (Materialize /
    TimescaleDB / Delta Live Tables): at 100 TB the delta path costs
    O(|changes|), a full recompute costs O(|base|), and the two MUST
    agree because count/sum are self-maintainable under
    insert/update/delete.

    The differential oracle IS the proof obligation: the SQL side
    merges the change batch into the snapshot and re-aggregates from
    scratch (cdc_merge_orders' recipe); this side never materialises
    the merged table — a hash match certifies the IVM algebra. Money
    moves in exact integer cents; updates contribute a pure price
    delta (status unchanged), deletes retract, inserts add under the
    new status.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    k = F.col("o_orderkey")
    view0 = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
    d_upd = (
        orders.where(k % 10 == 0)
        .groupBy("o_orderstatus")
        .agg(F.lit(0).cast("long").alias("dn"),
             (F.count(F.lit(1)) * 1000).alias("dc"))  # +10.00 per row
    )
    d_del = (
        orders.where(k % 10 == 1)
        .groupBy("o_orderstatus")
        .agg((-F.count(F.lit(1))).alias("dn"), (-F.sum("cents")).alias("dc"))
    )
    d_ins = (
        orders.where(k % 10 == 2)
        .groupBy(F.lit("N").alias("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("dn"), F.sum("cents").alias("dc"))
    )
    deltas = (
        d_upd.unionByName(d_del).unionByName(d_ins)
        .groupBy("o_orderstatus")
        .agg(F.sum("dn").alias("dn"), F.sum("dc").alias("dc"))
    )
    return (
        view0.join(deltas, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce(F.col("n"), F.lit(0))
             + F.coalesce(F.col("dn"), F.lit(0))).cast("long")
            .alias("n_orders"),
            (F.coalesce(F.col("c"), F.lit(0))
             + F.coalesce(F.col("dc"), F.lit(0))).cast("long")
            .alias("total_cents"),
        )
        .where(F.col("n_orders") > 0)
    )
