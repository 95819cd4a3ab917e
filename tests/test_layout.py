"""Z-order layout invariants: the Morton interleave is a bijection on
(x, y) pairs, and z-prefix file cuts bound BOTH dimensions' spans —
the property that makes footer-stats pruning work on two columns at
once (a 1-D sort bounds one span and leaves the other at full range)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators.layout import morton_interleave16
from hadoop_mapreduce_spark.registry import QUERIES
from tests.conftest import SF_DIR


def test_morton_interleave_known_values(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (255, 0), (0, 255), (3, 5)],
        "x: long, y: long",
    ).select("x", "y", morton_interleave16(F.col("x"), F.col("y")).alias("z"))
    got = {(r.x, r.y): r.z for r in df.collect()}
    # bit i of x -> position 2i; bit i of y -> position 2i+1
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(1, 1)] == 3
    assert got[(255, 0)] == 0b0101010101010101
    assert got[(0, 255)] == 0b1010101010101010
    # 3=0b011, 5=0b101 -> z = x0 + y0<<1 + x1<<2 + y2<<5 = 1+2+4+32 = 39
    assert got[(3, 5)] == 39


def test_zorder_layout_bounds_both_dims(spark):
    rows = QUERIES["zorder_layout"](spark, SF_DIR).collect()
    assert len(rows) > 4  # the layout actually cuts multiple files
    total = sum(r.n_rows for r in rows)
    assert total == spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    # every file's span in each scaled dimension is a strict subset of
    # the 256-wide domain — i.e. the curve clusters BOTH columns
    avg_x = sum(r.max_x - r.min_x for r in rows) / len(rows)
    avg_y = sum(r.max_y - r.min_y for r in rows) / len(rows)
    assert avg_x < 200 and avg_y < 200
    # file ids are contiguous Morton ranges: disjoint and sorted
    ids = [r.file_id for r in rows]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)


def test_zorder_write_narrows_footer_stats(spark, tmp_path):
    """End-to-end proof of the layout's value: write the events table
    (a) unsorted and (b) repartitionByRange on the Morton code, then
    read the parquet FOOTER stats (pyarrow row-group metadata) — the
    z-ordered files' per-file (user_id, hour) spans must be materially
    narrower than the unsorted ones. This is exactly the min/max a
    reader's predicate pruner consumes, so narrower spans = skipped
    files at scan time."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.operators.layout import morton_interleave16
    from hadoop_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", (F.unix_timestamp("ts") / 3600).cast("long").alias("hour"))
    stats = ev.agg(
        F.min("user_id").alias("u0"), F.max("user_id").alias("u1"),
        F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    keyed = ev.crossJoin(F.broadcast(stats)).select(
        "user_id", "hour",
        F.floor((F.col("user_id") - F.col("u0")) * 256
                / (F.col("u1") - F.col("u0") + 1)).cast("long").alias("x"),
        F.floor((F.col("hour") - F.col("h0")) * 256
                / (F.col("h1") - F.col("h0") + 1)).cast("long").alias("y"),
    ).withColumn("z", morton_interleave16(F.col("x"), F.col("y")))

    plain = str(tmp_path / "plain")
    zed = str(tmp_path / "zed")
    n_files = 8
    keyed.repartition(n_files).write.parquet(plain)
    keyed.repartitionByRange(n_files, "z").write.parquet(zed)

    # per-file min/max read back through pyarrow (same values the
    # footer statistics carry)
    def spans(path):
        out = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            t = pq.read_table(f, columns=["user_id", "hour"])
            if t.num_rows == 0:
                continue
            u = t.column("user_id").to_pylist()
            h = t.column("hour").to_pylist()
            out.append((max(u) - min(u), max(h) - min(h)))
        return out

    ps = spans(plain)
    zs = spans(zed)
    avg = lambda xs, i: sum(s[i] for s in xs) / len(xs)  # noqa: E731
    # unsorted files span ~the full range in both dims; z-ordered files
    # must be materially narrower in both
    assert avg(zs, 0) < 0.7 * avg(ps, 0)
    assert avg(zs, 1) < 0.7 * avg(ps, 1)


def test_shard_layout_plan_lpt(spark, tmp_path):
    """LPT on masses 10,7,5,3,3 into 2 shards, stepped by hand:
    10 -> s0, 7 -> s1, 5 -> s1 (7 < 10, load 12), 3 -> s0 (10 < 12,
    load 13), 3 -> s1 (12 < 13, load 15)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.layout import shard_layout_plan

    sizes = {"a": 10, "b": 7, "c": 5, "d": 3, "e": 3}
    texts, srcs = [], []
    for s, n in sizes.items():
        texts.append("w " * n)
        srcs.append(s)
    tbl = pa.table({
        "doc_id": pa.array(range(1, 6), pa.int64()),
        "text": pa.array([t.strip() for t in texts], pa.string()),
        "lang": pa.array(["en"] * 5, pa.string()),
        "source": pa.array(srcs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {r.source: r for r in
            shard_layout_plan(spark, str(tmp_path), n_shards=2).collect()}
    assert rows["a"].shard_id == 0 and rows["a"].shard_load_after == 10
    assert rows["b"].shard_id == 1 and rows["b"].shard_load_after == 7
    assert rows["c"].shard_id == 1 and rows["c"].shard_load_after == 12
    assert rows["d"].shard_id == 0 and rows["d"].shard_load_after == 13
    assert rows["e"].shard_id == 1 and rows["e"].shard_load_after == 15
