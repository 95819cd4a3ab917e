"""Skew mitigation: salted joins and salted aggregation.

AQE's skew-join splitting (on by default in session.py) handles most
runtime skew by splitting oversized shuffle partitions. Salting is the
manual fallback for the cases AQE can't fix:

  * a single join KEY so hot that splitting its partition still leaves
    one straggler task (AQE splits by partition, not by key);
  * aggregations, which AQE's skew handling does not cover at all.

Both helpers are deterministic (hash-derived salt, no RNG) and preserve
exact semantics — verified against the unsalted plans in
tests/test_skew.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.portable import fixed, h60


def _salt_of(*cols: Column | str, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts) from row content — xxhash64 so
    rows of a hot key spread uniformly without RNG (rand() would break
    retry idempotence: a re-executed task must salt identically)."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_salts)).cast("int")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where the LEFT side's key distribution is skewed.

    Left rows get a content-derived salt in [0, n_salts); the right side
    is replicated n_salts times via an explode. The shuffle key becomes
    (key, salt), so a key holding X% of the rows spreads over n_salts
    tasks instead of one. Cost: right side x n_salts — use only when the
    right side is small-ish but above the broadcast threshold (if it
    broadcasts, there is no shuffle to skew in the first place).

    The salt hashes the whole left row, so rows of one hot key spread.

    `how` is restricted to joins whose semantics survive right-side
    replication: for right/full outer joins every UNMATCHED right row
    exists once per salt replica and would be null-extended n_salts
    times. (right_semi/right_anti dedupe by definition but would salt
    the wrong side — the left is the skewed one here.)
    """
    # "semi"/"anti" are Spark-accepted aliases for leftsemi/leftanti —
    # same left-side semantics, so equally safe under replication.
    allowed = {"inner", "left", "leftouter", "leftsemi", "leftanti",
               "semi", "anti", "cross"}
    if how.lower().replace("_", "") not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: the right side is "
            f"replicated {n_salts}x, so right/full outer joins would emit "
            f"each unmatched right row once per salt replica. "
            f"Supported: inner, left(_outer), left_semi, left_anti, cross.")
    l_salted = left.withColumn(
        "__salt", _salt_of(*[F.col(c) for c in left.columns], n_salts=n_salts))
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    out = l_salted.join(
        r_salted,
        (l_salted[left_key] == r_salted[right_key]) & (l_salted["__salt"] == r_salted["__salt"]),
        how,
    )
    return out.drop("__salt")


def salted_aggregate(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys: partial aggregate on
    (group_cols, salt), then final aggregate on group_cols.

    Only algebraic aggregates compose across phases — supported:
    sum, count, min, max. (avg = sum/count at the call site; distinct
    counts need a different decomposition.) Spark's own partial
    aggregation already does this per-TASK; the salt phase adds a
    partial per (key, salt) SHUFFLE partition, which bounds the final
    task's input to n_groups x n_salts rows no matter how skewed the
    raw data is.

    aggs maps output column name -> "fn(col)", e.g. {"total": "sum(value)"}.
    """
    import re as _re

    salt = _salt_of(*[F.col(c) for c in df.columns], n_salts=n_salts)
    partial_exprs, final_exprs = [], []
    for out_name, spec in aggs.items():
        m = _re.fullmatch(r"(sum|count|min|max)\((\w+|\*)\)", spec.strip())
        if not m:
            raise ValueError(f"unsupported aggregate spec: {spec!r}")
        fn, col = m.groups()
        part_col = f"__p_{out_name}"
        if fn == "count":
            partial_exprs.append(
                (F.count(F.lit(1)) if col == "*" else F.count(col)).alias(part_col))
            final_exprs.append(F.sum(part_col).alias(out_name))
        else:
            partial_exprs.append(getattr(F, fn)(col).alias(part_col))
            final_exprs.append(getattr(F, fn)(part_col).alias(out_name))
    partial = df.withColumn("__salt", salt).groupBy(*group_cols, "__salt").agg(*partial_exprs)
    return partial.groupBy(*group_cols).agg(*final_exprs)


def salted_aggregate_events(spark: SparkSession, sf_dir: str,
                            n_salts: int = 16) -> DataFrame:
    """The salting pattern as a REGISTERED query: per-event_type event
    counts, value total (exact integer micro-units), and min/max via
    :func:`salted_aggregate` — event_type has single-digit cardinality,
    the canonical hot-key aggregation. The salted plan's output is
    IDENTICAL to the naive groupBy (the oracle IS the naive GROUP BY),
    which is the whole point: salting changes the exchange topology
    (final task input bounded at n_groups x n_salts rows at ANY skew),
    never the answer. tools/skew_bench.py holds the measured task-
    spread numbers; this entry makes the pattern itself
    correctness-witnessed.

    The value total is summed in micro-units: ``fixed(value, 6)`` is an
    exact BIGINT per row, integer addition is order-independent, so
    the salted two-phase sum is bit-equal to any other grouping.
    """
    from hadoop_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id",
        fixed(F.col("value"), 6).alias("v_e6"))
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n_events": "count(*)",
            "total_value_e6": "sum(v_e6)",
            "min_value_e6": "min(v_e6)",
            "max_value_e6": "max(v_e6)",
        },
        n_salts=n_salts,
    )
    return out


def join_skew_audit(spark, sf_dir: str) -> DataFrame:
    """Pre-join skew audit: for each candidate shuffle key axis of the
    events fact table (the 5-value event_type — pathologically hot —
    and user_id — the realistic mild-skew case), how the rows would
    land across n_parts hash partitions: keys and rows per partition,
    the load factor vs a uniform spread (1e6 = exactly even), and the
    largest single key inside the partition. This table IS the
    salt-or-broadcast decision: a load factor of 8e6 with one dominant
    key says salt (AQE splits partitions, not keys); many small keys
    unevenly bucketed says raise partitions and let AQE split.

    Partition assignment uses the repo's portable md5 bucket, so the
    audit is engine-checkable; a production run would swap in the
    engine's own hash partitioner — the DISTRIBUTION SHAPE, which is
    what the decision reads, is hash-invariant for high-entropy keys.
    Plan: one groupBy per axis over the scan (map-side partials absorb
    the hot keys — the audit itself cannot skew), then metadata-sized
    partition rollups; output is <= 2 * n_parts rows.
    """
    from hadoop_mapreduce_spark.sources.tables import load_table

    n_parts = 32
    ev = load_table(spark, sf_dir, "events")

    def axis(col: str) -> DataFrame:
        keys = ev.groupBy(F.col(col).cast("string").alias("k")).agg(
            F.count(F.lit(1)).alias("c"))
        parts = keys.select(
            (h60("k") % n_parts).alias("partition_id"),
            "c",
        ).groupBy("partition_id").agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_key_rows"),
        )
        total = parts.agg(F.sum("n_rows").alias("tot"))
        return parts.crossJoin(F.broadcast(total)).select(
            F.lit(col).alias("axis"),
            F.col("partition_id").cast("long").alias("partition_id"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.expr(f"n_rows * {n_parts} * 1000000 div tot")
            .alias("load_e6"),
            F.col("max_key_rows").cast("long").alias("max_key_rows"),
        )

    return axis("event_type").unionByName(axis("user_id"))


def join_cardinality_audit(spark, sf_dir: str) -> DataFrame:
    """CBO sanity audit: for the schema's three natural joins, the
    textbook cardinality estimate |A|*|B| / max(ndv_A, ndv_B) next to
    the EXACT join output size computed from the per-key count
    histograms (sum over keys of cnt_A * cnt_B — no join is actually
    executed). The error ratio is the number a cost model needs
    validated: when actual/estimate drifts far from 1e6 the optimizer
    is mis-ordering these joins and the table's statistics (or a
    histogram) need refreshing — this IS the ANALYZE-vs-reality check,
    as a query.

    Each side collapses to its key histogram first (one groupBy per
    side, map-side partials), so the audit's own cost is aggregation +
    a key-histogram join — never the join being estimated. Exact
    integers throughout.
    """
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.sources.tables import load_table

    def audit(name: str, a: DataFrame, ka: str, b: DataFrame,
              kb: str) -> DataFrame:
        ha = a.groupBy(F.col(ka).alias("k")).agg(
            F.count(F.lit(1)).alias("ca"))
        hb = b.groupBy(F.col(kb).alias("k")).agg(
            F.count(F.lit(1)).alias("cb"))
        sa = ha.agg(F.sum("ca").alias("rows_a"),
                    F.count(F.lit(1)).alias("ndv_a"))
        sb = hb.agg(F.sum("cb").alias("rows_b"),
                    F.count(F.lit(1)).alias("ndv_b"))
        actual = (ha.join(hb, "k")
                  .agg(F.coalesce(F.sum(F.col("ca") * F.col("cb")),
                                  F.lit(0)).alias("actual_rows")))
        return (
            sa.crossJoin(F.broadcast(sb))
            .crossJoin(F.broadcast(actual))
            .select(
                F.lit(name).alias("join_name"),
                F.col("rows_a").cast("long").alias("rows_a"),
                F.col("rows_b").cast("long").alias("rows_b"),
                F.col("ndv_a").cast("long").alias("ndv_a"),
                F.col("ndv_b").cast("long").alias("ndv_b"),
                F.expr("rows_a * rows_b div greatest(ndv_a, ndv_b)")
                .alias("est_rows"),
                F.col("actual_rows").cast("long").alias("actual_rows"),
                F.expr("CASE WHEN rows_a * rows_b"
                       " div greatest(ndv_a, ndv_b) > 0 THEN"
                       " actual_rows * 1000000 div (rows_a * rows_b"
                       " div greatest(ndv_a, ndv_b)) ELSE 0 END")
                .alias("err_ratio_e6"),
            )
        )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    out = (
        audit("customer_orders", customer, "c_custkey",
              orders, "o_custkey")
        .unionByName(audit("orders_lineitem", orders, "o_orderkey",
                           lineitem, "l_orderkey"))
        .unionByName(audit("events_orders", events, "user_id",
                           orders, "o_custkey"))
    )
    return out


def partition_skew_plan(spark, sf_dir: str):
    """Bucket-layout planning audit: hash events.user_id into n_parts
    buckets with the repo's portable md5 hash and report each bucket's
    row load, key count and load factor — the read you do BEFORE
    committing a bucket count to a bucketed-table write or a
    repartition(n, key): a load factor far above 1e6 (= perfectly
    balanced) on real keys means stragglers at 100 TB no matter how
    many executors you add, and the fix (more buckets, or salting via
    `salted_aggregate`) is decided from exactly this table.

    Complements `join_skew_audit` (per-KEY hot-key detection): this is
    per-BUCKET — the post-hash view the shuffle actually schedules, so
    it also catches hash-collision pileups that per-key counts miss.

    Portable + exact: bucket = h60(user_id) % n_parts, loads and factors
    in integer micro-units.
    Scale: one groupBy(user_id) partial-agg pass, one n_parts-bounded
    rollup — metadata-sized output regardless of corpus size.
    """
    from hadoop_mapreduce_spark.sources.tables import load_table

    n_parts = 32
    ev = load_table(spark, sf_dir, "events")
    h = h60(F.col("user_id").cast("string"))
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    per_bucket = (
        per_key.select(F.pmod(h, F.lit(n_parts)).alias("bucket"), "c")
        .groupBy("bucket")
        .agg(F.sum("c").cast("long").alias("n_rows"),
             F.count(F.lit(1)).cast("long").alias("n_keys"))
    )
    tot = per_bucket.agg(
        F.sum("n_rows").alias("total_rows"),
        F.max(F.expr(f"n_rows * {n_parts} * 1000000")).alias("mx"))
    return (
        per_bucket.crossJoin(F.broadcast(tot))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_rows", "n_keys",
            F.expr("CAST(n_rows * 1000000 DIV total_rows AS BIGINT)")
            .alias("share_e6"),
            # 1e6 == perfectly balanced; the straggler multiplier
            F.expr(f"CAST(n_rows * {n_parts} * 1000000 DIV total_rows"
                   " AS BIGINT)").alias("load_factor_e6"),
            F.expr("CAST(mx DIV total_rows AS BIGINT)")
            .alias("max_load_factor_e6"),
        )
    )


def consistent_hash_migration_audit(spark, sf_dir: str) -> DataFrame:
    """Consistent-hashing ring audit for shard routing: place
    ``n_servers`` servers on an md5 ring (``v_nodes`` virtual points
    each), assign every events partition key (user_id) to its
    clockwise-next point, then ADD one server and measure what moved.
    The defining guarantee of consistent hashing (Karger et al. 1997)
    is that growing N -> N+1 relocates ~1/(N+1) of the keys; naive
    mod-N hashing relocates ~N/(N+1). This audit measures BOTH on the
    real key population — the number that decides whether a 100 TB
    keyed store can rebalance online or must rewrite itself — plus the
    per-server share balance v_nodes exists to smooth.

    Portable + exact: ring points and key hashes use the repo md5
    convention at 48 bits, packed as h48 * 2048 + (server * v_nodes +
    vnode) so every point is UNIQUE by construction (no float, no tie
    ambiguity); keys compare at h48 * 2048 + 2047 (a key whose h48
    equals a point's sorts after it — an arbitrary, mirrored rule).
    Shares and moved fractions are truncating micro-units.

    Scale: one groupBy(user_id) partial-agg pass; the ring is a
    (n_servers+1) * v_nodes-row broadcast (metadata-sized constant),
    the per-key clockwise lookup is two conditional MINs over the
    broadcast theta-join (map-side combinable — the N x ring fan-out
    collapses before any exchange), and the final rollups are
    server-bounded.
    """
    from hadoop_mapreduce_spark.sources.tables import load_table

    n_servers = 8
    v_nodes = 64
    ev = load_table(spark, sf_dir, "events")
    keys = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))

    ring = (
        spark.range(0, (n_servers + 1) * v_nodes)
        .select(
            (F.col("id") / v_nodes).cast("long").alias("server"),
            F.pmod(F.col("id"), F.lit(v_nodes)).alias("vnode"),
        )
        .select(
            "server",
            (F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.col("server"), F.col("vnode"))), 1, 12), 16, 10)
             .cast("long") * F.lit(2048)
             + F.col("server") * v_nodes + F.col("vnode")).alias("point"),
        )
    )
    kh = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                             1, 12), 16, 10).cast("long") * F.lit(2048)
          + F.lit(2047))
    old = F.col("server") < n_servers
    # clockwise-next point, old ring and new ring, in ONE pass: four
    # conditional MINs over the broadcast theta-join, wrap = global min
    assigned = (
        keys.withColumn("h", kh)
        .crossJoin(F.broadcast(ring))
        .groupBy("user_id", "n_rows", "h")
        .agg(
            F.min(F.when(old & (F.col("point") >= F.col("h")),
                         F.col("point"))).alias("a1"),
            F.min(F.when(old, F.col("point"))).alias("a2"),
            F.min(F.when(F.col("point") >= F.col("h"),
                         F.col("point"))).alias("b1"),
            F.min("point").alias("b2"),
        )
        .select(
            "user_id", "n_rows",
            F.coalesce("a1", "a2").alias("p_old"),
            F.coalesce("b1", "b2").alias("p_new"),
        )
    )
    # point -> server is pure arithmetic (the pack), no join-back needed
    srv = lambda c: F.expr(f"pmod({c}, 2048) DIV {v_nodes}")  # noqa: E731
    routed = assigned.select(
        "user_id", "n_rows",
        srv("p_old").cast("long").alias("s_old"),
        srv("p_new").cast("long").alias("s_new"),
        (F.expr(f"pmod(user_id, {n_servers})")
         != F.expr(f"pmod(user_id, {n_servers + 1})")).cast("long")
        .alias("mod_moved"),
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    routed = scoped_persist(routed)
    glob = routed.agg(
        F.count(F.lit(1)).alias("n_keys_total"),
        F.sum((F.col("s_old") != F.col("s_new")).cast("long"))
        .alias("ring_moved"),
        F.sum("mod_moved").alias("mod_moved"),
    )
    before = routed.groupBy(F.col("s_old").alias("server")).agg(
        F.count(F.lit(1)).alias("n_before"))
    after = routed.groupBy(F.col("s_new").alias("server")).agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum((F.col("s_old") != F.col("s_new")).cast("long"))
        .alias("n_moved_in"))
    # server grid: a server that drew zero keys (tiny key populations)
    # must still report its (empty) row
    servers = spark.range(n_servers + 1).select(
        F.col("id").alias("server"))
    return (
        servers.join(after, "server", "left")
        .join(before, "server", "left")
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("server").cast("long").alias("server"),
            F.coalesce("n_before", F.lit(0)).cast("long")
            .alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("long")
            .alias("n_after"),
            F.coalesce("n_moved_in", F.lit(0)).cast("long")
            .alias("n_moved_in"),
            F.expr("CAST(coalesce(n_before, 0) * 1000000"
                   " DIV n_keys_total AS BIGINT)").alias("share_before_e6"),
            F.expr("CAST(coalesce(n_after, 0) * 1000000 DIV n_keys_total AS BIGINT)")
            .alias("share_after_e6"),
            F.expr("CAST(ring_moved * 1000000 DIV n_keys_total AS BIGINT)")
            .alias("ring_moved_e6"),
            F.expr("CAST(mod_moved * 1000000 DIV n_keys_total AS BIGINT)")
            .alias("mod_moved_e6"),
        )
    )
