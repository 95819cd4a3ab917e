"""Time-series operator tests: session window semantics, as-of join
correctness against a hand-computed micro-fixture."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from hadoop_mapreduce_spark.operators import timeseries
from tests.conftest import SF_DIR


def ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)


def test_asof_join_micro(spark, tmp_path):
    """Each event picks the latest order at-or-before its timestamp."""
    events = spark.createDataFrame(
        [(1, ts(10), 7), (2, ts(30), 7), (3, ts(5), 8)],
        ["event_id", "ts", "user_id"],
    )
    orders = spark.createDataFrame(
        [(100, 7, ts(0)), (101, 7, ts(20)), (102, 9, ts(0))],
        ["o_orderkey", "o_custkey", "o_orderdate"],
    )
    sf = str(tmp_path)
    events.select(
        "event_id", "ts", "user_id",
        F.lit("x").alias("event_type"), F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    orders.select(
        "o_orderkey", "o_custkey", F.lit("O").alias("o_orderstatus"),
        F.lit(0.0).alias("o_totalprice"), "o_orderdate", F.lit("1").alias("o_orderpriority"),
    ).write.mode("overwrite").parquet(f"{sf}/orders.parquet")

    got = {r.event_id: r.last_order_date for r in
           timeseries.asof_join_events_orders(spark, sf).collect()}
    assert got[1] == "2024-01-01 00:00:00"   # order at 00:00 is latest <= 00:10
    assert got[2] == "2024-01-01 00:20:00"   # order at 00:20 is latest <= 00:30
    assert got[3] is None                     # user 8 has no orders


def test_session_window_gap_semantics(spark):
    """A gap of exactly 30:00 continues a session and one of
    30:00.000001 starts a new one, in Spark's session_window (the
    streams') and in sessionize (the batch queries')."""
    from hadoop_mapreduce_spark.functions.timeutil import (
        SESSION_GAP_MINUTES,
        sessionize,
    )

    ev = spark.createDataFrame(
        [(1, ts(0), 5), (2, ts(30), 5),
         (3, ts(60) + dt.timedelta(microseconds=1), 5)],
        "event_id long, ts timestamp_ntz, user_id long",
    )
    out = (
        ev.groupBy(F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes")
                   .alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r.n for r in out) == [1, 2]
    assert {r.event_id: r.session_id for r in sessionize(ev).collect()} \
        == {1: 0, 2: 0, 3: 1}


# Nine events on the three session-boundary cases. User 1: two gaps of
# exactly 30:00 (one session). User 2: 10:00:00.900000 to
# 10:30:00.950000, a gap of 1800.05 s that floored seconds read as 1800
# (two sessions). User 3: a ts tie that event_id breaks (one session).
_T0 = dt.datetime(2024, 1, 1, 10)
SESSION_CORPUS = [
    (1, _T0, 1, "view"),
    (2, _T0 + dt.timedelta(minutes=30), 1, "click"),
    (3, _T0 + dt.timedelta(minutes=60), 1, "purchase"),
    (4, _T0 + dt.timedelta(microseconds=900_000), 2, "view"),
    (5, _T0 + dt.timedelta(minutes=30, microseconds=950_000), 2, "click"),
    (6, _T0 + dt.timedelta(days=1), 3, "signup"),
    (8, _T0 + dt.timedelta(days=1, minutes=10), 3, "view"),
    (7, _T0 + dt.timedelta(days=1, minutes=10), 3, "click"),
    (9, _T0 + dt.timedelta(days=1, minutes=20), 3, "purchase"),
]
SESSIONIZED = ("events_session", "session_concurrency",
               "events_pattern_match", "events_session_bigrams",
               "session_path_topk", "session_transition_entropy",
               "markov_absorption_steps", "markov_attribution_removal",
               "session_gap_sweep")


def test_sessionized_queries_match_oracle_on_hostile_corpus(spark, tmp_path):
    """Every sessionized query and its oracle cut SESSION_CORPUS into
    the same 4 sessions, and every reported session count says 4."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.registry import ORACLE, QUERIES
    from tools.oracle_check import canon

    sf = str(tmp_path)
    cols = list(zip(*SESSION_CORPUS))
    pq.write_table(pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array([1.25] * len(SESSION_CORPUS), pa.float64()),
        "props": pa.array(["{}"] * len(SESSION_CORPUS), pa.string()),
    }), f"{sf}/events.parquet")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        if t != "events":
            os.symlink(f"{SF_DIR}/{t}.parquet", f"{sf}/{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    got, failed = {}, []
    try:
        for name in SESSIONIZED:
            sdf = QUERIES[name](spark, sf)
            srows = [r.asDict() for r in sdf.collect()]
            cur = con.execute(ORACLE[name])
            ocols = [d[0] for d in cur.description]
            if (sorted(sdf.columns) != sorted(ocols)
                    or canon([tuple(r.values()) for r in srows], sdf.columns)
                    != canon(cur.fetchall(), ocols)):
                failed.append(name)
            got[name] = srows
    finally:
        con.close()
    assert failed == []
    assert len(got["events_session"]) == 4
    assert sum(r["n_sessions_started"]
               for r in got["session_concurrency"]) == 4
    assert sum(r["n_sessions"] for r in got["session_path_topk"]) == 4
    assert [r["n_sessions"] for r in got["session_gap_sweep"]
            if r["gap_minutes"] == 30] == [4]


def test_tumbling_total_preserved(spark):
    total = (
        timeseries.events_tumbling(spark, SF_DIR).agg(F.sum("n")).collect()[0][0]
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    assert total == load_table(spark, SF_DIR, "events").count()


def test_sliding_double_count(spark):
    total = (
        timeseries.events_sliding(spark, SF_DIR).agg(F.sum("n")).collect()[0][0]
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    # every event appears in exactly 2 sliding windows (2h window, 1h slide)
    assert total == 2 * load_table(spark, SF_DIR, "events").count()


def test_hierarchical_rollup_daily_matches_direct(spark):
    """The daily tier (re-aggregated from hourly) must equal a direct
    daily aggregation of the raw events — lossless rollup cascade."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.operators.timeseries import events_hierarchical_rollup
    from hadoop_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    out = events_hierarchical_rollup(spark, SF_DIR)
    daily = {
        (r.bucket_id, r.event_type): (r.n, r.total_value_cents)
        for r in out.where(F.col("resolution") == "day").collect()
    }
    direct = {
        (r.bucket_id, r.event_type): (r.n, r.total_value_cents)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy(
            F.expr(
                "timestampdiff(DAY, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("bucket_id"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "sum(CAST(round(value * 1000000) AS BIGINT)) DIV 10000"
            ).alias("total_value_cents"),
        )
        .collect()
    }
    assert daily == direct


def test_lttb_invariants(spark):
    """LTTB contract: exactly 24 points per series (inputs are
    longer), endpoints kept verbatim, output a time-ordered subsequence
    of the input, deterministic across runs."""
    from pyspark.sql import functions as F

    from hadoop_mapreduce_spark.operators.timeseries import (
        events_lttb_downsample,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    out = events_lttb_downsample(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("x"),
        F.col("event_id").cast("long").alias("event_id"),
    ).collect()
    by_series = {}
    for r in ev:
        by_series.setdefault(r.event_type, []).append((r.x, r.event_id))
    got = {}
    for r in out:
        got.setdefault(r.event_type, []).append(r)
    for et, rows in got.items():
        pts = sorted(by_series[et])
        assert len(rows) == min(24, len(pts))
        assert rows[0].event_id == pts[0][1]
        assert rows[-1].event_id == pts[-1][1]
        xs = [r.x for r in rows]
        assert xs == sorted(xs)
        ids = {p[1] for p in pts}
        assert all(r.event_id in ids for r in rows)
    out2 = events_lttb_downsample(spark, SF_DIR).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]


def test_mad_anomaly_robust_to_the_outliers_it_flags(spark, tmp_path):
    """Crafted series: one wild outlier per type. The MAD score flags
    exactly it, and (the robustness point) the median/MAD the flag is
    computed from are unmoved by the outlier's magnitude."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.timeseries import (
        events_anomaly_mad,
    )

    vals = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 1000.0]
    ts = [datetime.datetime(2024, 1, 1, h) for h in range(len(vals))]
    tbl = pa.table({
        "event_id": pa.array(range(1, len(vals) + 1), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([1] * len(vals), pa.int64()),
        "event_type": pa.array(["t"] * len(vals), pa.string()),
        "value": pa.array(vals, pa.float64()),
        "props": pa.array(["{}"] * len(vals), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    rows = events_anomaly_mad(spark, str(tmp_path)).collect()
    assert [r.event_id for r in rows] == [8]
    # median of the 8 values: (10.0+10.1)/2; the outlier's size is
    # invisible to it — the z-score twin's mean/stddev would not be
    assert rows[0].med == 10.05


def test_twap_daily_invariants(spark):
    """covered_us spans first-event→midnight exactly; TWAP is a weighted
    mean so it stays inside the day's [min, max] value envelope."""
    from tests.conftest import SF_DIR

    from hadoop_mapreduce_spark.operators.timeseries import events_twap_daily
    import pyspark.sql.functions as F

    out = {(r.event_type, r.day): r for r in events_twap_daily(spark, SF_DIR).collect()}
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"), "value")
        .groupBy("event_type", F.date_trunc("day", "ts").cast("string").alias("day"))
        .agg(F.min("ts").alias("first_ts"), F.min("value").alias("vmin"),
             F.max("value").alias("vmax"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(ev) == len(out)
    import datetime
    for r in ev:
        o = out[(r.event_type, r.day)]
        assert o.n == r.n
        assert r.vmin - 1e-9 <= o.twap <= r.vmax + 1e-9
        day0 = datetime.datetime.fromisoformat(r.day)
        delta = (day0 + datetime.timedelta(days=1)) - r.first_ts
        expected_us = (delta.days * 86_400_000_000
                       + delta.seconds * 1_000_000 + delta.microseconds)
        assert o.covered_us == expected_us


def test_winsorize_stats_invariants(spark):
    """Clip counts stay near the 1% tails, winsorized mean lies inside
    the envelope, and clipping never widens the mean beyond raw extremes."""
    from tests.conftest import SF_DIR

    from hadoop_mapreduce_spark.operators.timeseries import events_winsorize_stats

    for r in events_winsorize_stats(spark, SF_DIR).collect():
        assert r.lo <= r.hi
        assert r.lo - 1e-9 <= r.mean_winsorized <= r.hi + 1e-9
        # exact percentile: at most ~1% of rows sit strictly outside
        assert r.n_clipped_low <= r.n * 0.011 + 1
        assert r.n_clipped_high <= r.n * 0.011 + 1


def test_events_ewma_daily_recurrence(spark):
    """The EWMA column reproduces the exact recurrence over the daily
    means (checked in Python per type), is seeded by the first day, and
    lies inside the running [min, max] envelope of the values seen."""
    from hadoop_mapreduce_spark.operators.timeseries import (
        events_ewma_daily,
    )
    from tests.conftest import SF_DIR

    rows = events_ewma_daily(spark, SF_DIR).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        rs = sorted(rs, key=lambda r: r.day)
        s = None
        lo = hi = None
        for r in rs:
            v = r.day_avg
            s = v if s is None else 0.3 * v + 0.7 * s
            assert abs(r.ewma - s) < 1e-6, (t, r.day, r.ewma, s)
            lo = v if lo is None else min(lo, v)
            hi = v if hi is None else max(hi, v)
            assert lo - 1e-9 <= r.ewma <= hi + 1e-9
        assert abs(rs[0].ewma - rs[0].day_avg) < 1e-9


def test_events_dow_hour_profile_epoch_math(spark, tmp_path):
    """dow 0 must be Monday (epoch day 0 was a Thursday -> dow 3), hour
    buckets truncate fractional seconds, and the load factor is the
    168-cell uniform-week ratio in micro-units."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from hadoop_mapreduce_spark.operators.timeseries import (
        events_dow_hour_profile,
    )

    ts = [
        datetime(1970, 1, 1, 0, 30),          # Thursday -> dow 3, hour 0
        datetime(2024, 1, 1, 23, 59, 59),     # Monday -> dow 0, hour 23
        datetime(2024, 1, 1, 23, 59, 59, 900000),  # still hour 23
        datetime(2024, 1, 7, 12, 0),          # Sunday -> dow 6, hour 12
    ]
    tbl = pa.table({
        "event_id": pa.array(range(1, 5), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([1] * 4, pa.int64()),
        "event_type": pa.array(["view"] * 4, pa.string()),
        "value": pa.array([2.0, 4.0, 6.0, 8.0], pa.float64()),
        "props": pa.array(["{}"] * 4, pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    rows = {(r.dow, r.hour): r for r in
            events_dow_hour_profile(spark, str(tmp_path)).collect()}
    assert set(rows) == {(3, 0), (0, 23), (6, 12)}
    assert rows[(0, 23)].n_events == 2  # the .9s event did not round up
    assert rows[(0, 23)].mean_value_micros == 5_000_000
    assert rows[(3, 0)].share_e6 == 1_000_000 // 4
    assert rows[(3, 0)].load_e6 == 168 * 1_000_000 // 4


def test_session_gap_sweep_monotone(spark, tmp_path):
    """A crafted trace with gaps of 10 and 40 minutes: the 5-min
    timeout cuts both (3 sessions), 15/30-min cut one (2), 60-min cuts
    none (1); session counts are monotone non-increasing in timeout."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        session_gap_sweep,
    )

    t0 = datetime(2024, 3, 1, 9, 0)
    ts = [t0, t0 + timedelta(minutes=10), t0 + timedelta(minutes=50)]
    tbl = pa.table({
        "event_id": pa.array(range(1, 4), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([7] * 3, pa.int64()),
        "event_type": pa.array(["view"] * 3, pa.string()),
        "value": pa.array([1.0] * 3, pa.float64()),
        "props": pa.array(["{}"] * 3, pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    rows = {r.gap_minutes: r for r in
            session_gap_sweep(spark, str(tmp_path)).collect()}
    assert [rows[t].n_sessions for t in (5, 15, 30, 60)] == [3, 2, 2, 1]
    assert rows[60].events_per_session_e6 == 3_000_000
    assert rows[5].sessions_per_user_e6 == 3_000_000


def test_event_pair_itemsets_lift(spark, tmp_path):
    """Hand-checked lift: types A,B always co-occur (lift = nb/(sa*sb)
    * support scaled), type C appears alone so never pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from hadoop_mapreduce_spark.operators.timeseries import (
        event_pair_itemsets,
    )

    # basket1 (u1,d1): A,B; basket2 (u2,d1): A,B; basket3 (u3,d1): C
    rows_in = [
        (1, 1, "A"), (2, 1, "B"),
        (3, 2, "A"), (4, 2, "B"),
        (5, 3, "C"),
    ]
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows_in], pa.int64()),
        "ts": pa.array([datetime(2024, 5, 1, 12)] * 5,
                       pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows_in], pa.int64()),
        "event_type": pa.array([r[2] for r in rows_in], pa.string()),
        "value": pa.array([1.0] * 5, pa.float64()),
        "props": pa.array(["{}"] * 5, pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    rows = event_pair_itemsets(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    [r] = rows
    assert (r.item_a, r.item_b) == ("A", "B")
    assert (r.support, r.supp_a, r.supp_b, r.n_baskets) == (2, 2, 2, 3)
    assert r.lift_e6 == 2 * 3 * 1_000_000 // 4  # 1.5e6 > 1e6


def test_active_user_ratios_windows(spark, tmp_path):
    """u1 active on day 0 only, u2 on days 0 and 8: day 8's DAU is 1
    but WAU(8) counts only u2 (u1's 7-day window [0..6] misses it)
    while MAU(8) counts both; stickiness = dau/mau."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        active_user_ratios,
    )

    d0 = datetime(2024, 1, 1, 10)
    rows_in = [(1, 1, d0), (2, 2, d0), (3, 2, d0 + timedelta(days=8))]
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows_in], pa.int64()),
        "ts": pa.array([r[2] for r in rows_in], pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows_in], pa.int64()),
        "event_type": pa.array(["view"] * 3, pa.string()),
        "value": pa.array([1.0] * 3, pa.float64()),
        "props": pa.array(["{}"] * 3, pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = {r.day: r for r in
           active_user_ratios(spark, str(tmp_path)).collect()}
    days = sorted(out)
    assert len(days) == 2 and days[1] - days[0] == 8
    d_first, d_later = days
    assert (out[d_first].dau, out[d_first].wau, out[d_first].mau) == (2, 2, 2)
    assert (out[d_later].dau, out[d_later].wau, out[d_later].mau) == (1, 1, 2)
    assert out[d_later].stickiness_e6 == 500_000


def test_watermark_lateness_audit_hand_trace(spark, tmp_path):
    """Arrival order 10:00, 10:05, 10:02, 10:04 (by event_id): events 3
    and 4 are late by 3 and 1 minutes; p50 over [0,0,60s,180s] ranks
    to 0, max is 180s."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from hadoop_mapreduce_spark.operators.timeseries import (
        watermark_lateness_audit,
    )

    t = lambda m: datetime(2024, 6, 1, 10, m)
    ts = [t(0), t(5), t(2), t(4)]
    tbl = pa.table({
        "event_id": pa.array(range(1, 5), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([1] * 4, pa.int64()),
        "event_type": pa.array(["view"] * 4, pa.string()),
        "value": pa.array([1.0] * 4, pa.float64()),
        "props": pa.array(["{}"] * 4, pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    [r] = watermark_lateness_audit(spark, str(tmp_path)).collect()
    assert (r.n_events, r.n_late) == (4, 2)
    assert r.late_frac_e6 == 500_000
    assert r.p50_late_us == 0           # rank ceil(4/2)=2 of [0,0,60s,180s]
    assert r.p95_late_us == 180_000_000  # rank ceil(3.8)=4
    assert r.max_late_us == 180_000_000


def test_events_cusum_changepoint_detects_shift(spark, tmp_path):
    """A series of 10 quiet days (1 event) then 5 loud days (20 events)
    must flag during the loud run; a flat series never flags and its
    cusum stays 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        events_cusum_changepoint,
    )

    rows_in = []
    eid = 0
    d0 = datetime(2024, 1, 1, 12)
    for day in range(15):
        n = 1 if day < 10 else 20
        for _ in range(n):
            eid += 1
            rows_in.append((eid, d0 + timedelta(days=day), "shift"))
    for day in range(15):
        eid += 1
        rows_in.append((eid, d0 + timedelta(days=day), "flat"))
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows_in], pa.int64()),
        "ts": pa.array([r[1] for r in rows_in], pa.timestamp("us")),
        "user_id": pa.array([1] * len(rows_in), pa.int64()),
        "event_type": pa.array([r[2] for r in rows_in], pa.string()),
        "value": pa.array([1.0] * len(rows_in), pa.float64()),
        "props": pa.array(["{}"] * len(rows_in), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = events_cusum_changepoint(spark, str(tmp_path)).collect()
    shift = [r for r in out if r.event_type == "shift"]
    flat = [r for r in out if r.event_type == "flat"]
    assert any(r.shift_flag == 1 for r in shift)
    # flags only appear after the change, never in the quiet prefix
    first_flag = min(i for i, r in enumerate(shift) if r.shift_flag)
    assert first_flag >= 10
    assert all(r.shift_flag == 0 and r.cusum_scaled == 0 for r in flat)


def test_conversion_attribution_last_touch(spark, tmp_path):
    """The order is credited to the latest event at-or-before it
    (same-timestamp event IS visible); an order with no prior event
    lands in '(none)'; credits sum to the order count."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from hadoop_mapreduce_spark.operators.timeseries import (
        conversion_attribution,
    )

    d = lambda h: datetime(2024, 2, 1, h)
    ev = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([d(9), d(10), d(8)], pa.timestamp("us")),
        "user_id": pa.array([1, 1, 2], pa.int64()),
        "event_type": pa.array(["view", "click", "view"], pa.string()),
        "value": pa.array([1.0] * 3, pa.float64()),
        "props": pa.array(["{}"] * 3, pa.string()),
    })
    pq.write_table(ev, str(tmp_path / "events.parquet"))
    od = pa.table({
        "o_orderkey": pa.array([10, 11, 12], pa.int64()),
        "o_custkey": pa.array([1, 2, 3], pa.int64()),
        "o_orderstatus": pa.array(["F"] * 3, pa.string()),
        "o_totalprice": pa.array([5.0] * 3, pa.float64()),
        "o_orderdate": pa.array([d(12), d(8), d(12)],
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(["1-URGENT"] * 3, pa.string()),
    })
    pq.write_table(od, str(tmp_path / "orders.parquet"))
    rows = {r.credit: r for r in
            conversion_attribution(spark, str(tmp_path)).collect()}
    # user 1: click at 10:00 is the last touch before the 12:00 order
    assert rows["click"].n_conversions == 1
    assert rows["click"].p50_lag_us == 2 * 3600 * 1_000_000
    # user 2: the 08:00 event is exactly at the order ts -> visible
    assert rows["view"].n_conversions == 1
    assert rows["view"].p50_lag_us == 0
    # user 3 has no events at all
    assert rows["(none)"].n_conversions == 1
    assert rows["(none)"].p50_lag_us is None
    assert sum(r.n_conversions for r in rows.values()) == 3


def _write_events(tmp_path, rows):
    """rows: list of (event_id, user_id, ts) written with the fixture
    schema (other columns defaulted)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array(["view"] * len(rows), pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))


def test_user_active_streaks_islands(spark, tmp_path):
    """u1 active days {0,1,2, 5,6, 10}: three islands, longest 3 from
    day 0; u2 active {4,5} only. Two same-length islands tie-break to
    the EARLIEST start."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        user_active_streaks,
    )

    d0 = datetime(2024, 1, 1, 12)
    u1_days = [0, 1, 2, 5, 6, 10]
    u3_days = [3, 4, 8, 9]  # two length-2 islands -> earliest start wins
    rows = (
        [(i, 1, d0 + timedelta(days=d)) for i, d in enumerate(u1_days)]
        + [(100 + i, 2, d0 + timedelta(days=d)) for i, d in enumerate([4, 5])]
        + [(200 + i, 3, d0 + timedelta(days=d)) for i, d in enumerate(u3_days)]
        # duplicate event same day must not double-count
        + [(999, 1, d0 + timedelta(days=0, hours=5))]
    )
    _write_events(tmp_path, rows)
    out = {r.user_id: r for r in
           user_active_streaks(spark, str(tmp_path)).collect()}
    assert (out[1].n_streaks, out[1].n_active_days,
            out[1].longest_streak) == (3, 6, 3)
    assert out[1].longest_streak_start == "2024-01-01"
    assert (out[2].n_streaks, out[2].longest_streak) == (1, 2)
    assert out[2].longest_streak_start == "2024-01-05"
    assert (out[3].n_streaks, out[3].longest_streak) == (2, 2)
    assert out[3].longest_streak_start == "2024-01-04"  # tie -> earliest


def test_events_acf_perfect_alternation(spark, tmp_path):
    """A strictly alternating daily count series (1,3,1,3,...) has
    ACF(1) = -1 and ACF(2) = +1 exactly; numpy.corrcoef agrees on every
    lag."""
    from datetime import datetime, timedelta

    import numpy as np

    from hadoop_mapreduce_spark.operators.timeseries import events_acf

    d0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    counts = [1 if d % 2 == 0 else 3 for d in range(12)]
    for d, c in enumerate(counts):
        for k in range(c):
            rows.append((eid, 1, d0 + timedelta(days=d, minutes=k)))
            eid += 1
    _write_events(tmp_path, rows)
    out = {r.lag: r for r in events_acf(spark, str(tmp_path)).collect()}
    assert out[1].acf == -1.0 and out[2].acf == 1.0
    x = np.array(counts, dtype=float)
    for lag in range(1, 8):
        expect = float(np.corrcoef(x[lag:], x[:-lag])[0, 1])
        got = out[lag].acf
        assert abs(got - expect) < 2e-6, (lag, got, expect)
        assert out[lag].n_pairs == 12 - lag


def test_session_concurrency_sweep_line(spark, tmp_path):
    """Three users: u1 22:00–23:50 day0 (session live until 00:20 day1,
    spanning midnight), u2 23:00 day0 (live 23:00–23:30), u3 00:10
    day1. Day0 peak = 2 (u1+u2 during 23:00–23:30); day1 peak = 2
    (u1 still live at 00:10 when u3 starts). Day1 has no +1 boundary
    before u3 — the midnight probe must carry u1's session over."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        session_concurrency,
    )

    d0 = datetime(2024, 1, 1)
    rows = []
    # u1: events every 20 min from 22:00 to 23:50 -> one session,
    # live [22:00, 00:20 next day)
    for i, m in enumerate(range(0, 111, 10)):
        rows.append((i, 1, d0 + timedelta(hours=22, minutes=m)))
    rows.append((50, 2, d0 + timedelta(hours=23)))          # u2
    rows.append((60, 3, d0 + timedelta(days=1, minutes=10)))  # u3
    _write_events(tmp_path, rows)
    out = {r.day: r for r in
           session_concurrency(spark, str(tmp_path)).collect()}
    assert out["2024-01-01"].max_concurrency == 2
    assert out["2024-01-01"].n_sessions_started == 2
    assert out["2024-01-02"].max_concurrency == 2
    assert out["2024-01-02"].n_sessions_started == 1
    assert out["2024-01-02"].n_sessions_ended == 2  # u1 00:20, u3 00:40


def test_session_concurrency_touch_is_not_concurrent(spark, tmp_path):
    """A session ending exactly when another starts does not overlap:
    u1 live [00:00, 00:30), u2 starts exactly at 00:30 -> peak 1."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        session_concurrency,
    )

    d0 = datetime(2024, 1, 5)
    rows = [(1, 1, d0), (2, 2, d0 + timedelta(minutes=30))]
    _write_events(tmp_path, rows)
    out = session_concurrency(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0].max_concurrency == 1


def test_events_holt_linear_tracks_ramp(spark, tmp_path):
    """On a perfectly linear daily ramp (x_t = 2t) a numpy replay of
    the recurrence must agree to 1e-6, the trend converges toward the
    true slope 2, and forecasts improve: late abs_error < early."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        events_holt_linear,
    )

    d0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    counts = [2 * (t + 1) for t in range(14)]
    for d, c in enumerate(counts):
        for k in range(c):
            rows.append((eid, 1, d0 + timedelta(days=d, minutes=k)))
            eid += 1
    _write_events(tmp_path, rows)
    out = events_holt_linear(spark, str(tmp_path)).collect()
    assert len(out) == 14 and out[0].forecast is None
    al, be = 0.5, 0.3
    l, b = float(counts[0]), 0.0
    for t in range(1, 14):
        f = l + b
        nl = al * counts[t] + (1 - al) * (l + b)
        b = be * (nl - l) + (1 - be) * b
        l = nl
        import math
        assert abs(out[t].level - l) < 2e-6
        assert abs(out[t].trend - b) < 2e-6
        assert abs(out[t].forecast - f) < 2e-6
    assert abs(out[13].trend - 2.0) < 0.2      # converged near slope
    assert out[13].abs_error < out[2].abs_error


def test_sax_motifs_symbols_and_windows(spark, tmp_path):
    """A deterministic low/high alternation maps to alternating
    below/above-mean symbols, and a numpy replay of the z-quantisation
    + 3-gram assembly reproduces the motif counts exactly."""
    from collections import Counter
    from datetime import datetime, timedelta

    import numpy as np

    from hadoop_mapreduce_spark.operators.timeseries import sax_motifs

    d0 = datetime(2024, 1, 1)
    counts = [1, 9, 1, 9, 1, 9, 1, 9, 5, 5]
    rows, eid = [], 0
    for d, c in enumerate(counts):
        for k in range(c):
            rows.append((eid, 1, d0 + timedelta(days=d, minutes=k)))
            eid += 1
    _write_events(tmp_path, rows)
    out = {(r.event_type, r.motif): r.n
           for r in sax_motifs(spark, str(tmp_path)).collect()}

    x = np.array(counts, dtype=float)
    m, sd = x.mean(), x.std()
    def sym(v):
        z = (v - m) / sd
        return ("a" if z < -0.6745 else
                "b" if z < 0 else
                "c" if z < 0.6745 else "d")
    syms = [sym(v) for v in x]
    expect = Counter("".join(syms[i:i + 3]) for i in range(len(syms) - 2))
    got = {k[1]: v for k, v in out.items()}
    assert got == dict(expect)


def test_events_pattern_match_symbolized_sessions(spark, tmp_path):
    """One crafted session per pattern: v,c,c,p converts (and its tail
    never counts as browse_abandon because c-run doesn't end the
    string); v,c,c abandons; e,v,p retries; s,v,p activates. A python
    re replay over the symbol strings agrees exactly."""
    import re as _re
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.timeseries import (
        events_pattern_match,
    )

    d0 = datetime(2024, 1, 1)
    seqs = {
        1: ["view", "click", "click", "purchase"],
        2: ["view", "click", "click"],
        3: ["error", "view", "purchase"],
        4: ["signup", "view", "purchase"],
    }
    rows, eid = [], 0
    for uid, types in seqs.items():
        for i, et in enumerate(types):
            rows.append((eid, d0 + timedelta(minutes=i), uid, et,
                         1.0, "{}"))
            eid += 1
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = {r.pattern: r for r in
           events_pattern_match(spark, str(tmp_path)).collect()}

    sym = {"view": "v", "click": "c", "purchase": "p",
           "signup": "s", "error": "e"}
    strings = ["".join(sym[t] for t in ts) for ts in seqs.values()]
    pats = {"browse_abandon": "vc+$", "direct_convert": "vc*p",
            "error_retry": "e[^e]*p", "signup_activate": "s[vc]*p"}
    for name, pat in pats.items():
        ms = [len(_re.findall(pat, s)) for s in strings]
        assert out[name].n_sessions_matched == sum(1 for m in ms if m)
        assert out[name].n_matches == sum(ms)
        assert out[name].session_share_e6 == (
            sum(1 for m in ms if m) * 1_000_000 // 4)
    # vc*p with an empty click-run also matches inside 'evp' and
    # 'svp' — the regex replay above is the ground truth
    assert out["direct_convert"].n_sessions_matched == 3
    assert out["browse_abandon"].n_sessions_matched == 1
    assert out["error_retry"].n_sessions_matched == 1
    assert out["signup_activate"].n_sessions_matched == 1


def test_survival_kaplan_meier_hand_curve(spark, tmp_path):
    """Corpus end day 20.  u1: days 0-2 (dur 2, churned), u2: days 0-5
    (dur 5, churned), u3: day 10 only (dur 0, churned: last 10 < 13),
    u4: days 0-20 (dur 20, censored), u5: days 19-20 (dur 1, censored).
    Grid: t=0 d=1 n=5 -> S=0.8 ; t=1 c=1 n=4 -> S=0.8 ; t=2 d=1 n=3
    -> S=0.8*2/3 ; t=5 d=1 n=2 -> S*1/2 ; t=20 c=1 n=1 -> unchanged."""
    from datetime import datetime, timedelta

    d0 = datetime(2024, 1, 1, 6)
    rows, eid = [], 0
    for uid, days in [(1, [0, 1, 2]), (2, [0, 5]), (3, [10]),
                      (4, [0, 20]), (5, [19, 20])]:
        for d in days:
            rows.append((eid, uid, d0 + timedelta(days=d)))
            eid += 1
    _write_events(tmp_path, rows)
    from hadoop_mapreduce_spark.operators.timeseries import (
        survival_kaplan_meier,
    )

    out = {r.t: r for r in
           survival_kaplan_meier(spark, str(tmp_path)).collect()}
    assert sorted(out) == [0, 1, 2, 5, 20]
    assert (out[0].n_churned, out[0].n_censored, out[0].n_at_risk) == (1, 0, 5)
    assert abs(out[0].survival - 0.8) < 1e-9
    assert (out[1].n_censored, out[1].n_at_risk) == (1, 4)
    assert abs(out[1].survival - 0.8) < 1e-9
    assert (out[2].n_churned, out[2].n_at_risk) == (1, 3)
    assert abs(out[2].survival - 0.8 * 2 / 3) < 1e-6
    assert (out[5].n_churned, out[5].n_at_risk) == (1, 2)
    assert abs(out[5].survival - 0.8 * 2 / 3 * 0.5) < 1e-6
    assert (out[20].n_censored, out[20].n_at_risk) == (0 + 1, 1)
    assert abs(out[20].survival - out[5].survival) < 1e-9


def test_survival_kaplan_meier_zero_survivor_step(spark, tmp_path):
    """When every at-risk user churns at the last death time, survival
    hits exactly 0.0 (no ln(0) NULL/inf poisoning)."""
    from datetime import datetime, timedelta

    d0 = datetime(2024, 1, 1, 6)
    rows, eid = [], 0
    # corpus end = 30 (u3 active at end, censored, dur 0 at t=30... )
    # u1, u2: dur 3, both churned; u3 pins corpus_end with days 27..30
    for uid, days in [(1, [0, 3]), (2, [5, 8]), (3, [30])]:
        for d in days:
            rows.append((eid, uid, d0 + timedelta(days=d)))
            eid += 1
    _write_events(tmp_path, rows)
    from hadoop_mapreduce_spark.operators.timeseries import (
        survival_kaplan_meier,
    )

    out = {r.t: r for r in
           survival_kaplan_meier(spark, str(tmp_path)).collect()}
    # t=0: u3 censored (last=30 not < 23), n=3, S unchanged=1.0
    # t=3: u1,u2 churn, n_at_risk=2, d=2 -> S=0.0
    assert (out[0].n_churned, out[0].n_censored) == (0, 1)
    assert out[0].survival == 1.0
    assert (out[3].n_churned, out[3].n_at_risk) == (2, 2)
    assert out[3].survival == 0.0


def test_events_stl_seasonal_pure_weekly_pattern(spark, tmp_path):
    """A 21-day series with counts 1,1,1,1,1,1,8 repeating weekly: the
    7-day MA is constant 2 at every interior day, so d7 = 7n - 14:
    -7 for the six low days, +42 for the spike day (dow 6)."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        events_stl_seasonal,
    )

    d0 = datetime(2024, 1, 1, 12)
    rows, eid = [], 0
    for d in range(21):
        n = 8 if d % 7 == 6 else 1
        for _ in range(n):
            rows.append((eid, 1, d0 + timedelta(days=d)))
            eid += 1
    _write_events(tmp_path, rows)
    out = {r.dow: r for r in
           events_stl_seasonal(spark, str(tmp_path)).collect()}
    # interior days are 3..17 -> dows 3,4,5,6,0,1,2 with 2-3 days each
    assert sorted(out) == list(range(7))
    for dow, r in out.items():
        per_day = 42 if dow == 6 else -7
        assert r.sum_d7 == per_day * r.n_days
        assert abs(r.seasonal - per_day / 7.0) < 2e-6


def test_user_growth_accounting_ledger(spark, tmp_path):
    """u1 active wks {0,1,2}, u2 {0,2}, u3 {1}.  wk0: 2 new; wk1:
    1 new (u3), 1 retained (u1); wk2: 1 retained (u1), 1 resurrected
    (u2); churn: u2 gap charges wk1, u3 charges wk2.  Invariant:
    active(w) = new+retained+resurrected."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        user_growth_accounting,
    )

    d0 = datetime(2024, 1, 1, 12)
    rows, eid = [], 0
    for uid, wks in [(1, [0, 1, 2]), (2, [0, 2]), (3, [1])]:
        for w in wks:
            rows.append((eid, uid, d0 + timedelta(days=7 * w)))
            eid += 1
    _write_events(tmp_path, rows)
    out = {r.wk: r for r in
           user_growth_accounting(spark, str(tmp_path)).collect()}
    assert sorted(out) == [0, 1, 2]
    assert (out[0].n_new, out[0].n_retained, out[0].n_resurrected,
            out[0].n_churned) == (2, 0, 0, 0)
    assert (out[1].n_new, out[1].n_retained, out[1].n_churned) == (1, 1, 1)
    assert (out[2].n_retained, out[2].n_resurrected,
            out[2].n_churned) == (1, 1, 1)
    for r in out.values():
        assert r.n_active == r.n_new + r.n_retained + r.n_resurrected
    # wk1 quick ratio: (1 new + 0 res) / 1 churned = 1.0
    assert out[1].quick_ratio_e6 == 1_000_000
    assert out[0].quick_ratio_e6 is None


def test_theil_sen_trend_outlier_resistant(spark, tmp_path):
    """Daily counts 1,2,3,4,50,6,7 (one spike): pairwise-slope median
    stays 1.0 (the OLS slope would be dragged to ~3.9); intercept =
    median(n - 1.0*d) = 1.0 despite the day-4 outlier residual 46."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        theil_sen_trend,
    )

    d0 = datetime(2024, 1, 1, 12)
    rows, eid = [], 0
    counts = [1, 2, 3, 4, 50, 6, 7]
    for d, n in enumerate(counts):
        for _ in range(n):
            rows.append((eid, 1, d0 + timedelta(days=d)))
            eid += 1
    _write_events(tmp_path, rows)
    out = theil_sen_trend(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days == 7 and r.n_pairs == 21
    assert abs(r.slope - 1.0) < 1e-9
    assert abs(r.intercept - 1.0) < 1e-9


def test_session_path_topk_truncation_and_order(spark, tmp_path):
    """u1 has one session view>click>purchase and one view>view (after
    a >30min gap); a 15-event bot session truncates its path to 12
    steps but reports the true length."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        session_path_topk,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    d0 = datetime(2024, 1, 1, 12)
    rows = []  # (event_id, user_id, ts, type)
    rows += [(0, 1, d0, "view"), (1, 1, d0 + timedelta(minutes=1), "click"),
             (2, 1, d0 + timedelta(minutes=2), "purchase")]
    rows += [(3, 1, d0 + timedelta(minutes=60), "view"),
             (4, 1, d0 + timedelta(minutes=61), "view")]
    rows += [(10 + i, 2, d0 + timedelta(minutes=i), "view")
             for i in range(15)]
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = {r.path: r for r in
           session_path_topk(spark, str(tmp_path)).collect()}
    assert out["view>click>purchase"].n_sessions == 1
    assert out["view>view"].n_sessions == 1
    bot = out[">".join(["view"] * 12)]
    assert (bot.n_sessions, bot.min_len, bot.max_len) == (1, 15, 15)


def test_attribution_linear_credit_split(spark, tmp_path):
    """Purchase by u1 preceded (within 7d) by 2 views + 1 click: views
    get 2/3 credit, click 1/3.  Purchase by u2 with no in-window touch
    goes whole to '(none)'.  A touch 8 days out is never credited."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        attribution_linear_credit,
    )

    pd_ = datetime(2024, 1, 20)
    rows = [
        (0, 1, pd_ - timedelta(days=1), "view"),
        (1, 1, pd_ - timedelta(days=2), "view"),
        (2, 1, pd_ - timedelta(days=3), "click"),
        (3, 1, pd_ - timedelta(days=8), "view"),   # outside lookback
        (10, 1, pd_, "purchase"),
        (11, 2, pd_, "purchase"),                  # touchless
        (4, 2, pd_ + timedelta(days=1), "view"),   # after the purchase
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = {r.credit: r for r in
           attribution_linear_credit(spark, str(tmp_path)).collect()}
    assert out["view"].total_credit_e6 == 2 * 1_000_000 // 3
    assert out["view"].n_touches_total == 2
    assert out["click"].total_credit_e6 == 1_000_000 // 3
    assert out["(none)"].total_credit_e6 == 1_000_000
    assert out["(none)"].n_conversions_credited == 1
    assert out["(none)"].n_touches_total == 0



def test_mann_kendall_monotone_and_flat(spark, tmp_path):
    """Strictly increasing daily counts 1..8: S = C(8,2) = 28, no
    ties, Var18 = 8*7*21 = 1176 -> Var = 65.33, z = 27/sqrt(65.33).
    A constant series has S = 0, z = 0, and an all-tied variance."""
    from datetime import datetime, timedelta
    import math

    from hadoop_mapreduce_spark.operators.timeseries import (
        mann_kendall_trend,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    d0 = datetime(2024, 1, 1, 12)
    rows, eid = [], 0
    for d in range(8):
        for _ in range(d + 1):
            rows.append((eid, 1, d0 + timedelta(days=d), "up"))
            eid += 1
        for _ in range(3):
            rows.append((eid, 1, d0 + timedelta(days=d), "flat"))
            eid += 1
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in
           mann_kendall_trend(spark, str(tmp_path)).collect()}
    up = out["up"]
    assert (up.n_days, up.s) == (8, 28)
    assert up.var18 == 8 * 7 * 21
    assert abs(up.z - 27.0 / math.sqrt(1176 / 18.0)) < 2e-6
    flat = out["flat"]
    assert flat.s == 0
    # all 8 values tied in one group: tie18 = 8*7*21 -> var18 = 0
    assert flat.var18 == 0 and flat.z is None


def test_forecast_backtest_snaive_exact_errors(spark, tmp_path):
    """14-day series 1..14: prediction for day d is d-7's count, so
    every scored point (days 7..13) has err = +7: MAE 7.0, bias +7,
    MAPE = mean over 7 points of 7e6 DIV actual."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        forecast_backtest_snaive,
    )

    d0 = datetime(2024, 1, 1, 12)
    rows, eid = [], 0
    for d in range(14):
        for _ in range(d + 1):
            rows.append((eid, 1, d0 + timedelta(days=d)))
            eid += 1
    _write_events(tmp_path, rows)
    out = forecast_backtest_snaive(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_points, r.sum_abs_err, r.sum_err) == (7, 49, 49)
    assert r.mae_e6 == 7_000_000
    expected_mape = sum(7 * 1_000_000 // a for a in range(8, 15)) // 7
    assert r.mape_e6 == expected_mape


def test_runs_test_daily_alternating_vs_blocked(spark, tmp_path):
    """Alternating 1,5,1,5,... over 12 days: every step starts a new
    run (12 runs of 6+6 -> z > 0, too many runs); blocked
    1x6 then 5x6 gives 2 runs (z < 0, clustered)."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.timeseries import (
        runs_test_daily,
    )

    d0 = datetime(2024, 1, 1, 12)
    rows, eid = [], 0
    for d in range(12):
        alt = 5 if d % 2 else 1
        blk = 5 if d >= 6 else 1
        for _ in range(alt):
            rows.append((eid, 1, d0 + timedelta(days=d), "alt")); eid += 1
        for _ in range(blk):
            rows.append((eid, 1, d0 + timedelta(days=d), "blk")); eid += 1
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in
           runs_test_daily(spark, str(tmp_path)).collect()}
    # median of {1,5}x6 = 3 -> no ties excluded, n1 = n2 = 6
    assert (out["alt"].n1, out["alt"].n2, out["alt"].runs) == (6, 6, 12)
    assert (out["blk"].n1, out["blk"].n2, out["blk"].runs) == (6, 6, 2)
    assert out["alt"].z > 0 and out["blk"].z < 0


def test_session_transition_entropy_deterministic_vs_uniform(spark, tmp_path):
    """'view' always goes to 'click' (entropy 0); 'click' splits 50/50
    between 'view' and 'purchase' (entropy ln 2)."""
    import math
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.timeseries import (
        session_transition_entropy,
    )

    d0 = datetime(2024, 1, 1, 12)
    # one long session: view click view click purchase ... build
    # transitions: view->click x4; click->view x2, click->purchase x2
    seq = ["view", "click", "view", "click", "purchase",
           "view", "click", "view", "click", "purchase"]
    rows = [(i, 1, d0 + timedelta(minutes=i), t) for i, t in enumerate(seq)]
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = {r.from_type: r for r in
           session_transition_entropy(spark, str(tmp_path)).collect()}
    ln2_e6 = int(math.floor(math.log(2) * 1e6 + 0.5))
    assert out["view"].entropy_e6 == 0
    assert out["view"].n_distinct_to == 1
    assert abs(out["click"].entropy_e6 - ln2_e6) <= 1
    # purchase -> view transitions exist (mid-sequence), entropy 0
    assert out["purchase"].entropy_e6 == 0
    # rate = weighted: (4*0 + 4*ln2 + 1*0) / 9
    assert abs(out["view"].rate_e6 - (4 * ln2_e6) // 9) <= 1


def test_events_residual_anomaly_shock_survives_seasonality(spark, tmp_path):
    """Weekly pattern 1,1,1,1,1,1,8 repeating for 28 days with ONE
    injected shock (+20 on day 17): raw z-scores would flag every
    spike day; seasonal-difference residuals are all 0 except the
    shock (+20) and its echo (-20 on day 24)."""
    from datetime import datetime, timedelta

    from hadoop_mapreduce_spark.operators.timeseries import (
        events_residual_anomaly,
    )

    d0 = datetime(2024, 1, 1, 12)
    rows, eid = [], 0
    for d in range(28):
        n = 8 if d % 7 == 6 else 1
        if d == 17:
            n += 20
        for _ in range(n):
            rows.append((eid, 1, d0 + timedelta(days=d)))
            eid += 1
    _write_events(tmp_path, rows)
    out = {r.d: r for r in
           events_residual_anomaly(spark, str(tmp_path)).collect()}
    assert sorted(out) == list(range(7, 28))
    assert out[17].residual == 20 and out[17].is_anomaly
    assert out[24].residual == -20 and out[24].is_anomaly
    for d, r in out.items():
        if d not in (17, 24):
            assert r.residual == 0 and not r.is_anomaly


def test_dow_profile_stability_identical_vs_rotated(spark, tmp_path):
    """'stable' repeats the same 7-day vector both weeks (cosine 1.0);
    'rotated' cyclically shifts a spiky vector so consecutive weeks
    disagree (cosine < 0.8)."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_mapreduce_spark.operators.timeseries import (
        dow_profile_stability,
    )

    d0 = datetime(2024, 1, 1, 12)
    rows, eid = [], 0
    stable = [1, 2, 3, 4, 3, 2, 1]
    spiky = [9, 1, 1, 1, 1, 1, 1]
    for w in range(2):
        for dow in range(7):
            for _ in range(stable[dow]):
                rows.append((eid, 1, d0 + timedelta(days=7 * w + dow),
                             "stable")); eid += 1
            vec = spiky if w == 0 else spiky[3:] + spiky[:3]
            for _ in range(vec[dow]):
                rows.append((eid, 1, d0 + timedelta(days=7 * w + dow),
                             "rotated")); eid += 1
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in
           dow_profile_stability(spark, str(tmp_path)).collect()}
    s = out["stable"]
    assert s.n_shared_dows == 7 and s.dot == s.na == s.nb
    assert abs(s.cosine - 1.0) < 1e-9
    assert out["rotated"].cosine < 0.8


def test_kleinberg_path_is_min_cost_on_bruteforce(spark):
    """The emitted burst path is the minimum-cost labelling: an exact
    forward min-plus replay over the same integer costs."""
    import math
    from collections import defaultdict

    from hadoop_mapreduce_spark.sources.tables import load_table

    rows = timeseries.events_burst_kleinberg(spark, SF_DIR).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    ev = load_table(spark, SF_DIR, "events").select(
        "ts", "event_type").collect()
    epoch = ev[0].ts.__class__(1970, 1, 1)
    counts: dict = defaultdict(int)
    day_tot: dict = defaultdict(int)
    for e in ev:
        d = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        counts[(e.event_type, d)] += 1
        day_tot[d] += 1
    days = sorted(day_tot)
    dd = sum(day_tot.values())
    for typ, seq in by_type.items():
        seq.sort(key=lambda r: r.day)
        assert len(seq) == len(days)  # zero-days materialised
        rr = sum(counts.get((typ, d), 0) for d in days)
        p0 = min(rr / dd, 0.98)
        p1 = min(2.0 * p0, 0.99)
        c0s, c1s = [], []
        for d in days:
            r_, n_ = counts.get((typ, d), 0), day_tot[d]
            c0s.append(math.floor(
                -(r_ * math.log(p0) + (n_ - r_) * math.log(1.0 - p0))
                * 1e6 + 0.5))
            c1s.append(math.floor(
                -(r_ * math.log(p1) + (n_ - r_) * math.log(1.0 - p1))
                * 1e6 + 0.5))
        tau = math.floor(math.log(len(days)) * 1e6 + 0.5)

        def path_cost(states):
            c, prev = 0, 0
            for t, s in enumerate(states):
                c += c1s[t] if s else c0s[t]
                if s == 1 and prev == 0:
                    c += tau
                prev = s
            return c

        got = [r.burst for r in seq]
        got_cost = path_cost(got)
        # exact DP replay (not exponential enumeration): forward
        # min-plus over the same integer costs
        c0, c1 = c0s[0], c1s[0] + tau
        for t in range(1, len(days)):
            c0, c1 = (c0s[t] + min(c0, c1),
                      c1s[t] + min(c0 + tau, c1))
        assert got_cost == min(c0, c1)
        # emitted cumulative costs match the forward recursion ends
        assert (seq[-1].cum_cost0_e6, seq[-1].cum_cost1_e6) == (c0, c1)
        # burst days really are high-share days: mean share on burst
        # days >= mean share on baseline days (when both exist)
        shares = [counts.get((typ, d), 0) / day_tot[d] for d in days]
        b = [s for s, g in zip(shares, got) if g]
        nb = [s for s, g in zip(shares, got) if not g]
        if b and nb:
            assert sum(b) / len(b) > sum(nb) / len(nb)


def test_attribution_removal_monotone_and_shares_normalise(spark):
    """Removal can only destroy conversion paths, and the removal
    effects normalise into shares that sum to 1e6 within truncation."""
    from hadoop_mapreduce_spark.operators.timeseries import (
        markov_attribution_removal,
    )

    rows = markov_attribution_removal(spark, SF_DIR).collect()
    assert rows, "fixture has transient channels"
    base = {r.p_base_e6 for r in rows}
    assert len(base) == 1  # one base world
    p_base = base.pop()
    assert p_base > 0  # purchases exist in the fixture
    for r in rows:
        # removal can only destroy conversion paths
        assert 0 <= r.p_removed_e6 <= p_base
        assert r.removal_effect_e6 == \
            (p_base - r.p_removed_e6) * 1_000_000 // p_base
        assert 0 <= r.attribution_share_e6 <= 1_000_000
    te = sum(r.removal_effect_e6 for r in rows)
    if te > 0:
        for r in rows:
            assert r.attribution_share_e6 == \
                r.removal_effect_e6 * 1_000_000 // te
        # truncating shares sum to <= 1e6, within |channels| micro-units
        s = sum(r.attribution_share_e6 for r in rows)
        assert 1_000_000 - len(rows) < s <= 1_000_000
    # removing 'purchase' itself is not a scenario; channels are the
    # transient event types
    assert "purchase" not in {r.channel for r in rows}
    assert "START" not in {r.channel for r in rows}


def test_time_decay_exact_replay(spark):
    """attribution_time_decay replayed exactly in Python."""
    from collections import defaultdict

    from hadoop_mapreduce_spark.operators.timeseries import (
        ATTR_DECAY_MAX_GAP,
        ATTR_DECAY_W_E6,
        attribution_time_decay,
    )
    from hadoop_mapreduce_spark.sources.tables import load_table

    rows = {r.channel: r for r in
            attribution_time_decay(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events").select(
        "ts", "user_id", "event_type").collect()
    epoch = ev[0].ts.__class__(1970, 1, 1)
    recs = [(r.user_id, r.event_type,
             int((r.ts - epoch).total_seconds() * 1_000_000)
             // 86_400_000_000) for r in ev]
    conv = {}
    for u, c, d in recs:
        if c == "purchase":
            conv[u] = min(conv.get(u, d), d)
    weighted = defaultdict(list)  # user -> [(channel, w)]
    for u, c, d in recs:
        if c != "purchase" and u in conv and d <= conv[u]:
            gap = min(conv[u] - d, ATTR_DECAY_MAX_GAP)
            weighted[u].append((c, ATTR_DECAY_W_E6[gap]))
    credit = defaultdict(int)
    ntouch = defaultdict(int)
    for u, ws in weighted.items():
        tw = sum(w for _, w in ws)
        for c, w in ws:
            credit[c] += w * 1_000_000 // tw
            ntouch[c] += 1
    total = sum(credit.values())
    assert set(rows) == set(credit)
    for c, r in rows.items():
        assert r.n_touches == ntouch[c]
        assert r.credit_e6 == credit[c]
        assert r.share_e6 == credit[c] * 1_000_000 // total
    # each conversion distributes ~1e6 micro-units (truncation slack
    # bounded by its touch count)
    n_convs_with_touch = len(weighted)
    assert 0 <= n_convs_with_touch * 1_000_000 - total \
        <= sum(len(v) for v in weighted.values())
