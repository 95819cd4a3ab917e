"""Data-layout operators: multi-dimensional clustering for scan
pruning — the write-side half of "fast queries at 100 TB".

A table range-partitioned on one key prunes scans filtered on that key
and nothing else. Z-ordering (Morton curve) interleaves the bits of two
keys so that rows close in EITHER dimension land in the same file:
min/max footer stats then prune selective filters on both columns.
This is what `OPTIMIZE ... ZORDER BY` does in lakehouse table formats;
here it's expressed as a pure DataFrame projection + one aggregation,
so the same plan writes z-clustered files via
``df.repartitionByRange(F.col("zval")).write...`` at scale.

Everything is JVM-side bit arithmetic (shiftleft/shiftright with
literal shift amounts — whole-stage codegen keeps it fused with the
scan); the oracle rebuilds the identical Morton codes with DuckDB's
`<<`/`&`, so the query is hash-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.sources.tables import load_table


def _spread16(v: Column) -> Column:
    """Spread the low 16 bits of ``v`` to the even bit positions of a
    32-bit word via the classic magic-number doubling steps (Hacker's
    Delight §7-2): 4 shift-or-mask rounds instead of 16 per-bit terms.
    Bit-identical to the naive per-bit interleave, ~6× fewer codegen
    ops, and one-tenth the py4j calls to build the expression."""
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x33333333))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x55555555))
    return v


def morton_interleave16(x: Column, y: Column) -> Column:
    """32-bit Morton code from two 16-bit values: bit i of x lands at
    position 2i, bit i of y at 2i+1. Built from two magic-number bit
    spreads (see ``_spread16``) with LITERAL shifts/masks — the whole
    code is ~12 fused integer ops inside whole-stage codegen, and the
    identical expression is generated for the DuckDB oracle
    (registry._MORTON_SQL)."""
    return (_spread16(x) + F.shiftleft(_spread16(y), 1)).cast("long")


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the events table on (user_id, hour) and report the file
    layout the clustering would produce.

    File assignment is the z-value PREFIX (z >> 11) — exactly
    how z-ordered writers cut files (contiguous Morton ranges), and a
    pure projection: no global window, no single-partition sort. The
    per-file min/max of BOTH dimensions is the result a reader's
    footer-stats pruner would consume; narrow spans in both columns are
    the point of the curve (a 1-D sort gets a narrow span in one
    dimension and the full range in the other).

    Plan: scan → bit-arithmetic projection → one groupBy(file_id)
    exchange (map-side combinable min/max/count). At scale, replace the
    groupBy with ``repartitionByRange(zval).sortWithinPartitions`` and
    write — the layout analysis here IS the audit of that write.
    """
    ev = load_table(spark, sf_dir, "events")
    hour = F.expr("timestampdiff(HOUR,"
                  " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    base = ev.select("user_id", hour.alias("hour"))
    # Scale BOTH dimensions to 8-bit ranks from their min/max column
    # stats (a 1-row broadcast aggregate — z-writers use the table
    # stats the same way). Equal bit width is what makes interleaving
    # meaningful: raw values give the wider-ranged column the high bits
    # all to itself and the curve degenerates into a 1-D sort on it.
    stats = base.agg(
        F.min("user_id").alias("u0"), F.max("user_id").alias("u1"),
        F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    keyed = base.crossJoin(F.broadcast(stats)).select(
        F.floor((F.col("user_id") - F.col("u0")) * 256
                / (F.col("u1") - F.col("u0") + 1)).cast("long").alias("x"),
        F.floor((F.col("hour") - F.col("h0")) * 256
                / (F.col("h1") - F.col("h0") + 1)).cast("long").alias("y"),
    )
    z = morton_interleave16(F.col("x"), F.col("y"))
    return (
        keyed.select("x", "y", z.alias("zval"))
        .groupBy(F.shiftright(F.col("zval"), 11).alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").cast("long").alias("min_x"),
            F.max("x").cast("long").alias("max_x"),
            F.min("y").cast("long").alias("min_y"),
            F.max("y").cast("long").alias("max_y"),
        )
        .select(F.col("file_id").cast("long").alias("file_id"),
                "n_rows", "min_x", "max_x", "min_y", "max_y")
    )


# Fixed probe set for zone_map_skipping_audit: rank-space ranges
# [lo, hi) on x (user rank), y (hour rank), or both. NULL bound = no
# constraint on that dimension. Chosen to hit distinct curve regions so
# the three layouts separate (an x-probe is prunable under the x-sort
# and the curve, not under arrival order; a y-probe only under the
# curve).
_ZONE_PROBES = [
    # probe_id, xlo, xhi, ylo, yhi
    (0, 64, 96, None, None),
    (1, 192, 224, None, None),
    (2, None, None, 32, 64),
    (3, None, None, 160, 192),
    (4, 64, 96, 32, 64),
    (5, 192, 224, 160, 192),
]


def zone_map_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness of three physical layouts of the
    events table under one fixed probe workload — the read-side audit
    that justifies (or refutes) paying for a z-order rewrite. For each
    layout the table is cut into ``n_files`` contiguous key-range
    files, each file keeps parquet-footer-style min/max zone maps on
    BOTH filter columns, and a probe skips a file iff one of its
    column ranges is disjoint from the file's [min, max] — exactly the
    pruning rule a footer-stats reader applies. Layouts:

      * ``natural``  — arrival order (file = event_id range): zone maps
        on user/hour are accidental; expect ~0 skipping on user probes.
      * ``sorted_x`` — 1-D sort on user rank (file = x >> log2(256/n)):
        perfect pruning on x probes, none on y probes — the classic
        single-key-layout failure this audit exists to show.
      * ``zorder``   — Morton prefix (file = zval prefix, identical
        codes to zorder_layout): partial pruning on BOTH dimensions.

    All file assignments are pure projections (key-range cuts, the
    same contiguous-Morton-range convention as zorder_layout) — no
    global sort, no window; one scan emits all three layouts via an
    exploded (layout, file_id) pair, then everything downstream runs
    on the 3 x n_files zone-map relation and the 6-row broadcast probe
    table. Integers end-to-end (rank-space bounds, counts, micro-unit
    fractions).
    """
    n_files = 64
    ev = load_table(spark, sf_dir, "events")
    hour = F.expr("timestampdiff(HOUR,"
                  " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    base = ev.select("event_id", "user_id", hour.alias("hour"))
    stats = base.agg(
        F.min("user_id").alias("u0"), F.max("user_id").alias("u1"),
        F.min("hour").alias("h0"), F.max("hour").alias("h1"),
        F.min("event_id").alias("e0"), F.max("event_id").alias("e1"))
    keyed = base.crossJoin(F.broadcast(stats)).select(
        "event_id",
        F.floor((F.col("user_id") - F.col("u0")) * 256
                / (F.col("u1") - F.col("u0") + 1)).cast("long").alias("x"),
        F.floor((F.col("hour") - F.col("h0")) * 256
                / (F.col("h1") - F.col("h0") + 1)).cast("long").alias("y"),
        F.floor((F.col("event_id") - F.col("e0")) * n_files
                / (F.col("e1") - F.col("e0") + 1)).cast("long")
        .alias("f_nat"),
    )
    z = morton_interleave16(F.col("x"), F.col("y"))
    shift_sorted = 8 - (n_files.bit_length() - 1)      # 256 x-values
    shift_z = 16 - (n_files.bit_length() - 1)          # 65536 z-values
    laid = keyed.select(
        "x", "y",
        F.explode(F.array(
            F.struct(F.lit("natural").alias("layout"),
                     F.col("f_nat").alias("file_id")),
            F.struct(F.lit("sorted_x").alias("layout"),
                     F.shiftright(F.col("x"), shift_sorted).cast("long")
                     .alias("file_id")),
            F.struct(F.lit("zorder").alias("layout"),
                     F.shiftright(z, shift_z).cast("long")
                     .alias("file_id")),
        )).alias("lf"),
    ).select(F.col("lf.layout").alias("layout"),
             F.col("lf.file_id").alias("file_id"), "x", "y")
    zones = laid.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.min("y").alias("min_y"), F.max("y").alias("max_y"),
    )
    probes = spark.createDataFrame(
        [(int(p), xlo, xhi, ylo, yhi)
         for p, xlo, xhi, ylo, yhi in _ZONE_PROBES],
        "probe_id long, xlo long, xhi long, ylo long, yhi long")
    skipped = (
        zones.crossJoin(F.broadcast(probes))
        .withColumn(
            "skip",
            ((F.col("xlo").isNotNull()
              & ((F.col("max_x") < F.col("xlo"))
                 | (F.col("min_x") >= F.col("xhi"))))
             | (F.col("ylo").isNotNull()
                & ((F.col("max_y") < F.col("ylo"))
                   | (F.col("min_y") >= F.col("yhi")))))
            .cast("long"))
    )
    return (
        skipped.groupBy("layout", "probe_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("skip").cast("long").alias("files_skipped"),
            F.sum(F.col("skip") * F.col("n_rows")).cast("long")
            .alias("rows_skipped"),
            F.expr("CAST(sum(skip) * 1000000 DIV count(*) AS BIGINT)")
            .alias("skip_frac_e6"),
        )
    )


def shard_layout_plan(spark, sf_dir: str, n_shards: int = 4) -> DataFrame:
    """Output-shard planning: assign sources to n_shards output shards
    by LPT greedy (longest-processing-time: sources in token-mass
    descending order, each to the currently least-loaded shard) — the
    4/3-approximation that turns "write the corpus as N balanced
    shards" into a deterministic plan. The written layout then gives
    every downstream consumer near-equal splits without a global
    repartition of the data itself.

    The greedy is inherently sequential but runs over the per-SOURCE
    token aggregate — a metadata-sized relation (|sources| rows at any
    corpus scale), so it executes as one single-group applyInPandas
    (same bounded-sequential pattern as seq_packing's per-bucket
    first-fit; the DATA-sized aggregation below it is a normal
    distributed groupBy). Ties are total: token mass desc, source asc
    for order; lowest shard id among equal loads.
    """
    import pandas as pd

    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.functions.text import (
        normalize_text, tokenize)
    from hadoop_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    masses = (
        docs.select("source",
                    F.size(tokenize(normalize_text(F.col("text"))))
                    .cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("tokens"), F.count(F.lit(1)).alias("n_docs"))
    )

    def lpt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tokens", "source"],
                              ascending=[False, True])
        loads = [0] * n_shards
        out = []
        for _, row in pdf.iterrows():
            sid = min(range(n_shards), key=lambda i: (loads[i], i))
            loads[sid] += int(row["tokens"])
            out.append((row["source"], int(row["tokens"]),
                        int(row["n_docs"]), sid, loads[sid]))
        return pd.DataFrame(
            out, columns=["source", "tokens", "n_docs", "shard_id",
                          "shard_load_after"])

    return (
        masses.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(lpt, schema="source string, tokens long,"
                       " n_docs long, shard_id long, shard_load_after long")
    )


def encoding_dictionary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dictionary-vs-plain encoding audit over lineitem's
    integer/flag columns — the write-side layout decision Parquet
    writers make per row group, computed here over the whole relation
    so the table owner can SET dictionary on/off per column instead of
    trusting the writer's per-group fallback (a column that blows the
    dictionary-page limit mid-file silently degrades to plain and
    bloats scans). For each column: exact distinct count, plain size
    (byte length of every value), dictionary size (one copy of each
    distinct value + ceil(log2(n_distinct))-bit packed indexes), and
    the DICT/PLAIN recommendation with the size ratio.

    Exactness: all sizes are exact BIGINT byte counts of the decimal
    string rendering (integers render identically on both engines; no
    float column enters the audit); the index bit-width is
    length(bin(n_distinct - 1)) — the same exact-integer log2 both
    engines compute.

    100 TB shape: one scan explodes each row into |columns| (column,
    value) pairs — a scan-speed projection; the (column, value)
    exchange collapses map-side (counts-of-counts pattern: partial
    aggregation commutes), the per-column rollup is |columns| rows,
    and nothing downstream of the first exchange exceeds the distinct-
    value relation. At cluster scale this is the same plan per
    partition followed by a metadata-sized merge.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_returnflag", "l_linestatus"]
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in cols)
    pairs = li.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (col_name, val)")
    ).where(F.col("val").isNotNull())
    counts = pairs.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).alias("cnt"))
    per_col = counts.groupBy("col_name").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("cnt") * F.octet_length("val")).cast("long")
        .alias("plain_bytes"),
        F.sum(F.octet_length("val")).cast("long").alias("dict_entry_bytes"),
    )
    sized = per_col.select(
        "col_name", "n_rows", "n_distinct", "plain_bytes",
        F.when(F.col("n_distinct") <= 1, F.lit(1)).otherwise(
            F.length(F.expr("bin(n_distinct - 1)"))).cast("long")
        .alias("index_bits"),
        "dict_entry_bytes",
    ).select(
        "*",
        F.expr("dict_entry_bytes + (n_rows * index_bits + 7) DIV 8")
        .cast("long").alias("dict_bytes"),
    )
    return (
        sized.select(
            "col_name", "n_rows", "n_distinct", "plain_bytes",
            "index_bits", "dict_bytes",
            F.expr("dict_bytes * 1000000 DIV plain_bytes").cast("long")
            .alias("dict_ratio_e6"),
            F.when(F.col("dict_bytes") < F.col("plain_bytes"),
                   F.lit("DICT")).otherwise(F.lit("PLAIN"))
            .alias("recommend"),
        )
    )


def rle_run_length_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length audit of lineitem's physical row order — the
    order-sensitive half of the encoding story
    (`encoding_dictionary_audit` measures the value DOMAIN; this
    measures the SEQUENCE): per column, how many equal-value runs the
    canonical arrival order (l_orderkey, l_linenumber — the unique
    write key) produces, the mean run length, and the run count a
    column-sorted rewrite would achieve (= the distinct count, since
    sorting makes every value one run). RLE/delta encodings and
    zone-map pruning both pay off exactly when runs are long, so
    runs-vs-distinct is the number that decides WHICH column a sort or
    z-order rewrite should cluster (the read-side complement of
    `zone_map_skipping_audit` / `zorder_layout`).

    Exactness: a run boundary is `value <> lag(value)` over the total
    (l_orderkey, l_linenumber) order — the key is unique, so the order
    is total and both engines count identical boundaries (NULL-safe:
    the first row of each column starts run 1).

    Scale: ONE global sort (range-partitioned total order — the same
    machinery a sorted write uses) computes the lag for ALL audited
    columns in a single window; everything after is a 1-row aggregate
    unpivoted to |columns| rows. No per-column re-sort, no second pass
    over the data.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_suppkey", "l_partkey", "l_returnflag", "l_linestatus"]
    w = Window.orderBy("l_orderkey", "l_linenumber")
    lagged = li.select(
        *cols,
        *[F.lag(c).over(w).alias(f"prev_{c}") for c in cols],
    )
    runs = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[F.sum(
            (F.col(f"prev_{c}").isNull()
             | (F.col(c) != F.col(f"prev_{c}"))).cast("long"))
          .cast("long").alias(f"runs_{c}") for c in cols],
    )
    nd = li.agg(*[F.countDistinct(c).cast("long").alias(f"nd_{c}")
                  for c in cols])
    stack_args = ", ".join(
        f"'{c}', runs_{c}, nd_{c}" for c in cols)
    return (
        runs.crossJoin(F.broadcast(nd))
        .select(
            "n_rows",
            F.expr(f"stack({len(cols)}, {stack_args})"
                   " AS (col_name, n_runs, n_distinct)"),
        )
        .select(
            "col_name", "n_rows", "n_distinct", "n_runs",
            F.expr("n_rows * 1000000 DIV n_runs").cast("long")
            .alias("avg_run_len_e6"),
            F.expr("n_distinct * 1000000 DIV n_runs").cast("long")
            .alias("sorted_runs_ratio_e6"),
        )
    )
