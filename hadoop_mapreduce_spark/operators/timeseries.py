"""Time-series operators over events: tumbling/sliding windows,
sessions and the as-of join (batch formulations, with the same
semantics as the Structured Streaming versions in streaming/windows.py).

`F.window` works in both modes, and the tumbling and sliding queries
use it as the streams do. Every sessionized query calls one kernel,
``functions/timeutil.py::sessionize`` (a gap of more than 30 minutes
starts a new session), and its oracle splices the SQL twin; the
streams' session windows apply the same gap rule. Day indexes
are ``day_index`` from the same module. That is what keeps the
streaming surface oracle-checkable (SURVEY.md §7 Stage 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.timeutil import (
    SESSION_GAP_US,
    day_index,
    index_date,
    sessionize,
    wall_epoch_secs,
    wall_epoch_us,
)
from hadoop_mapreduce_spark.functions.portable import (
    fixed, fixed_sql, half_up)
from hadoop_mapreduce_spark.sources.tables import load_table


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts per event_type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding every 1 hour (each event lands in 2 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("window_start"), "event_type", "n")
    )


def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User sessions (``sessionize``: a gap of more than 30 minutes
    starts a new one), each with its first event's ts, event count and
    value.

    Streaming twin: streaming/windows.py::session_counts, whose
    session windows apply the same gap rule under a watermark. Session
    assembly shuffles once on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        sessionize(ev).groupBy("user_id", "session_id")
        .agg(F.min("ts").cast("string").alias("session_start"),
             F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("session_value"))
        .select("user_id", "session_start", "n_events", "session_value")
    )


def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-style dedup: first event per (user_id, event_type) in ts
    order — dropDuplicates semantics made deterministic with an explicit
    window (batch twin of streaming dropDuplicates)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.col("ts").cast("string").alias("first_ts"))
    )


def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the most recent order of that customer
    at or before the event time.

    Spark-native formulation: union the two streams tagged by side, sort
    within user partitions by time, and carry the last seen order date
    forward with `last(..., ignorenulls)` over an unbounded-preceding
    window. One shuffle on the key — the classic scalable as-of pattern
    (vs. a non-equi join which would be a broadcast-nested-loop).

    Tie rule: order rows sort before event rows at the same timestamp
    (side 0 < side 1), i.e. an order on exactly the event timestamp IS
    visible to the event — matching DuckDB's ASOF JOIN (ts >= o_orderdate).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts"), F.lit(1).alias("side"),
        "event_id", F.lit(None).cast("timestamp_ntz").alias("odate"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("side"), F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").alias("odate"),
    )
    unioned = ev.unionByName(orders)
    w = (
        Window.partitionBy("k")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("last_odate", F.last("odate", ignorenulls=True).over(w))
        .where(F.col("side") == 1)
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.col("last_odate").cast("string").alias("last_order_date"),
        )
    )


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user event counts with explicit zero rows for silent
    hours (resample + gap-fill).

    The dense hour spine is generated per user with sequence()/explode —
    distributed, no driver-side calendar — then left-joined against the
    observed hourly rollup. Shuffles: one for the rollup, one for the
    spine-rollup join (both keyed on user_id, so AQE can co-locate)."""
    ev = load_table(spark, sf_dir, "events")
    hours = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = hours.select(
        "user_id",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour"),
    )
    observed = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.join(observed, ["user_id", "hour"], "left")
        .select(
            "user_id",
            F.col("hour").cast("string").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


def events_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: hourly aggregates are
    re-aggregated into daily rows, and both resolutions are emitted from
    ONE pass over the raw data.

    The daily tier reads the hourly tier, never the events table — at
    100 TB that is the difference between re-scanning raw data per
    resolution and a continuous-aggregate cascade (hourly rows are
    ~1/3600th of raw). sum/count re-aggregate losslessly; avg is derived
    at the end from the re-aggregated sums (averaging averages would be
    wrong).
    """
    ev = load_table(spark, sf_dir, "events")
    # Pure integer arithmetic on BOTH engines — nothing in the hashed
    # output passes through a timestamp renderer or a float->decimal
    # conversion, the two sites whose rounding/formatting is library-
    # version-sensitive (the r7/r8 driver-red hash-mismatch signature):
    #
    # * Buckets are epoch indices: complete hours since the NTZ epoch
    #   (timestampdiff on TIMESTAMP_NTZ is integer micros DIV unit — no
    #   session timezone, no calendar rendering), and the day is that
    #   hour floor-divided by 24, so both tiers bucket from one site.
    #   DuckDB mirrors with date_diff('hour', epoch, ts): boundary-
    #   crossing counts from an hour-aligned origin equal the floor
    #   index for the post-1970 fixture domain.
    # * Values are summed as integer MICRO-units per row
    #   (``fixed(value, 6)``). Integer partial sums are exact and
    #   associative, so the result is shuffle-layout-independent; the
    #   derived totals stay truncating integer division exactly as before:
    #   total_value_cents = sm DIV 10000, avg_value_micros = sm DIV n.
    #   Consumers read total_value_cents/100 and avg_value_micros/1e6.
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    hourly = (
        ev.groupBy(
            F.expr(f"timestampdiff(HOUR, {epoch}, ts)").alias("bucket_id"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(fixed(F.col("value"), 6)).alias("sm"),
        )
    )
    hourly_out = hourly.select(
        F.lit("hour").alias("resolution"),
        "bucket_id", "event_type", "n",
        F.expr("sm DIV 10000").alias("total_value_cents"),
        F.expr("sm DIV n").alias("avg_value_micros"),
    )
    daily_out = (
        hourly.groupBy(F.floor(F.col("bucket_id") / 24).alias("day_id"),
                       "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sm").alias("sm"))
        .select(
            F.lit("day").alias("resolution"),
            F.col("day_id").alias("bucket_id"),
            "event_type", "n",
            F.expr("sm DIV 10000").alias("total_value_cents"),
            F.expr("sm DIV n").alias("avg_value_micros"),
        )
    )
    return hourly_out.unionByName(daily_out)


def events_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC-style downsample: per (user, day) — first value by time
    (open), last (close), min (low), max (high). min_by/max_by keep the
    whole thing one hash aggregate; no window, no sort, so the shuffle
    is one row per (user, day) after map-side partials. Ties on ts are
    broken by event_id via the packed (ts, event_id) ordering struct."""
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            "user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.round(F.min_by("value", key), 2).alias("open"),
            F.round(F.max_by("value", key), 2).alias("close"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max("value"), 2).alias("high"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("user_id", F.col("day").cast("string").alias("day"),
                "open", "close", "low", "high", "n")
    )


def events_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of each event_type's
    (ts, value) series to n_out = 24 visually-representative points —
    the standard dashboarding reduction (Steinarsson 2013): per bucket,
    keep the point maximising the triangle area formed with the
    previously KEPT point and the next bucket's centroid.

    The selection is inherently sequential (each pick depends on the
    previous), so it runs per-series inside applyInPandas — the pattern
    this repo reserves for genuinely procedural kernels. Parallelism is
    across series (one pandas group per event_type); a single series'
    points must fit one worker, which holds by construction because the
    INPUT to LTTB at scale is a pre-aggregate (per-minute OHLC/avg, a
    bounded row count), not raw events.

    Hash-paired since r7c (was rows-only): every quantity is an exact
    integer — x is epoch MICROseconds, y is ``fixed(value, 6)``,
    triangle areas use the centroid-cleared form
        |(xa·k − Σx)(y − ya) − (xa − x)(Σy − k·ya)|
    (the true area × 2k, a positive rescale that never reorders the
    argmax), and bucket bounds are integer floor divisions
    bnd(j) = 1 + ⌊j(n−2)/(n_out−2)⌋ rather than np.linspace's float
    grid. Arithmetic runs in arbitrary-precision Python ints here and
    HUGEINT in the DuckDB oracle (the products reach ~1e27, past
    int64), ties break to the earliest point — bit-identical engines.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    series = ev.select(
        "event_type",
        # ts reads as TIMESTAMP_NTZ; session zone is pinned UTC so the
        # cast preserves the instant (same pattern as asof_join_nearest)
        wall_epoch_us("ts").alias("x"),
        fixed(F.col("value"), 6).alias("y"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    n_out = 24
    n_mid = n_out - 2  # interior bucket count

    def lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["x", "event_id"]).reset_index(drop=True)
        n = len(pdf)
        if n <= n_out:
            out = pdf
        else:
            # Python ints: the integer cross products overflow int64.
            xs = [int(v) for v in pdf["x"]]
            ys = [int(v) for v in pdf["y"]]
            # integer bucket bounds over the interior points (first
            # and last are always kept); bnd is strictly increasing
            # because n - 2 >= n_out - 1 here
            bnd = [1 + (j * (n - 2)) // n_mid for j in range(n_out - 1)]
            idx = [0]
            a = 0
            for b in range(n_mid):
                lo, hi = bnd[b], bnd[b + 1]
                nlo, nhi = bnd[b + 1], (bnd[b + 2]
                                        if b + 2 < n_out - 1 else n)
                k = nhi - nlo
                sx, sy = sum(xs[nlo:nhi]), sum(ys[nlo:nhi])
                xa, ya = xs[a], ys[a]
                t1, t2 = xa * k - sx, sy - k * ya
                best, best_i = -1, lo
                for i in range(lo, hi):
                    area = abs(t1 * (ys[i] - ya) - (xa - xs[i]) * t2)
                    if area > best:
                        best, best_i = area, i
                a = best_i
                idx.append(a)
            idx.append(n - 1)
            out = pdf.iloc[idx]
        out = out.assign(rank=range(1, len(out) + 1))
        return out[["event_type", "rank", "x", "y", "event_id"]]

    return (
        series.groupBy("event_type")
        .applyInPandas(
            lttb,
            "event_type string, rank long, x long, y long, event_id long")
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: view → click → purchase per user, each
    step's first occurrence required to fall AFTER the previous step's
    (the product-analytics primitive; unordered "did all three" counts
    overstate conversion).

    Plan: one conditional aggregation per user (min ts per step —
    map-side combinable, one exchange keyed by user_id), then ordering
    constraints as a projection and a 1-row rollup. No self-joins, no
    windows over the event stream — the naive per-step-join formulation
    shuffles the fact table three times; this shuffles it once.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts")))
        .alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("t_purchase"),
    )
    stage1 = F.col("t_view").isNotNull()
    stage2 = stage1 & F.col("t_click").isNotNull() & (
        F.col("t_click") > F.col("t_view"))
    stage3 = stage2 & F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(stage1.cast("long")).alias("n_viewed"),
        F.sum(stage2.cast("long")).alias("n_clicked_after_view"),
        F.sum(stage3.cast("long")).alias("n_purchased_after_click"),
        F.round(F.sum(stage3.cast("long"))
                / F.sum(stage1.cast("long")), 4).alias("conversion"),
    )


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week
    (the cohort), counted by how many distinct later weeks they return
    — the (cohort_week, week_offset) → users triangle every analytics
    store ships.

    Plan: first-activity via one user-keyed min aggregate; activity
    weeks via one (user, week) distinct; one broadcastable join back
    (per-user firsts ≪ events) and a (cohort, offset) rollup. Weeks are
    derived with date_trunc so both engines bucket identically.
    """
    ev = load_table(spark, sf_dir, "events")
    weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    first = weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        weeks.join(first, "user_id")
        .select(
            "user_id",
            F.col("cohort_wk").cast("date").cast("string").alias("cohort_week"),
            F.floor(F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("long").alias("week_offset"),
        )
        .where(F.col("week_offset") <= 4)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def events_session_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship n-gram operator re-applied to event
    STREAMS: top-k event-type bigrams within user sessions — "what do
    users do next" path analysis (WordCount's sliding window over
    tokens, with a session boundary instead of a line boundary;
    SURVEY.md §1.4's cross-line question becomes cross-session, and
    here the boundary is semantic, so bigrams never span sessions).

    Sessions are ``sessionize``'s, the package's one session rule (its
    oracle splices the SQL twin). Plan: one user-keyed window pass (lag
    + running sum), ordered per-session type sequence via
    sort_array(collect_list) (bounded by session length), bigram
    explode, count, TakeOrdered top-k.
    """
    from hadoop_mapreduce_spark.functions.text import ngrams_from_tokens

    ev = load_table(spark, sf_dir, "events")
    seqs = (
        sessionize(ev).groupBy("user_id", "session_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(
                    F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ).alias("types"))
    )
    bigrams = seqs.select(
        F.explode(ngrams_from_tokens(F.col("types"), 2)).alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
        .select("bigram", F.col("cnt").cast("long").alias("cnt"))
    )


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per event_type: each hourly
    bucket's count is scored against the mean/stddev of the PRECEDING
    24 buckets (strictly preceding — a self-inclusive
    window lets an anomaly mask itself), flagged when |z| > 3. The
    monitoring primitive for feed-health dashboards.

    Plan: one (type, hour) aggregate (map-side combinable), then a
    bounded ROWS window per type over the tiny bucket series — the
    window runs over O(types × hours) rows, never the event stream.
    Population stddev (stddev_pop) so a constant-rate window scores 0
    rather than NULL-propagating; buckets with < 3 preceding points
    are unscored (insufficient history) on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type",
                   F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rowsBetween(-24, -1))
    scored = hourly.select(
        "event_type",
        F.col("hr").cast("string").alias("hour"),
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_pop("n").over(w).alias("sigma"),
        F.count("n").over(w).alias("n_hist"),
    ).where(F.col("n_hist") >= 3)
    z = F.when(F.col("sigma") == 0,
               F.when(F.col("n") == F.col("mu"), F.lit(0.0))
               .otherwise(F.lit(None)))\
         .otherwise((F.col("n") - F.col("mu")) / F.col("sigma"))
    return (
        scored.select(
            "event_type", "hour", F.col("n").cast("long").alias("n"),
            F.round("mu", 4).alias("mu"),
            F.round(z, 4).alias("z"),
            (F.abs(F.coalesce(z, F.lit(0.0))) > 3.0).alias("is_anomaly"),
        )
        .where(F.col("is_anomaly"))
    )


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on event values per event_type using
    the median / MAD (median absolute deviation) scale — the
    breakdown-resistant twin of events_anomaly_zscore: a z-score's
    mean/stddev are themselves dragged by the outliers being hunted,
    while the median/MAD pair tolerates up to 50% contamination. Flag
    = modified z-score 0.6745*(x - med)/MAD > 3.5 (Iglewicz-Hoaglin).

    Plan: two passes over the (type, value) projection — exact medians
    via percentile() grouped per type (Spark's exact-percentile sorts
    WITHIN each tiny type group after a map-side-combinable collect;
    at 100 TB swap in approx_percentile's mergeable t-digest — same
    plan shape, documented trade), broadcast the per-type (med, mad)
    relation (O(types) rows), then a scan-side filter computes scores.
    The event stream shuffles once (the per-type grouping); the second
    pass is shuffle-free.

    Cross-engine determinism: percentile(0.5) and DuckDB's median use
    the same linear interpolation on sorted doubles, but the two
    engines' medians can still land a few ulps apart — enough to flip
    a score sitting on a 4-dp rounding half-boundary (found at sf0.1:
    one row read 3.8522 vs 3.8523). The score is therefore computed
    from the 4-dp-ROUNDED med/mad: rounding quantizes both engines'
    near-identical medians to the same double, after which the score
    arithmetic is bit-identical on both sides. The score's own 4-dp
    rounding is ``half_up``. Flagged rows ordered by (event_type,
    event_id).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.round(F.expr("percentile(abs(value - med), 0.5)"), 4).alias("mad"),
             F.round(F.any_value("med"), 4).alias("med"))
    )
    score = 0.6745 * (F.col("value") - F.col("med")) / F.col("mad")
    mad_z = half_up(score, 4)
    return (
        ev.join(F.broadcast(mad), "event_type")
        .where(F.col("mad") > 0)
        .select("event_type", "event_id",
                F.round("value", 2).alias("value"),
                F.col("med"), F.col("mad"),
                mad_z.alias("mad_z"))
        .where(F.abs(mad_z) > 3.5)
    )


def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event_type, day) — the TWAP of
    irregularly-sampled series: each observation is weighted by how long
    it was "current" (microseconds until the next observation of the
    same type that day; the day's last observation holds until
    midnight). The plain mean over-weights bursts; TWAP is the standard
    correction for unevenly-spaced telemetry/pricing streams, reported
    here alongside the unweighted mean so the burst bias is visible.

    Plan: one window pass (lead over (event_type, day) ordered by
    (ts, event_id) — ties broken by id, so the weights are
    deterministic) feeding one hash aggregation on the same key — a
    single exchange; both stages share the partitioning. Epochs are
    exact MICROsecond longs on both engines (unix_micros / epoch_us —
    the join_self_pairs portability rule: second-floor vs round
    mismatches engines), so the weights are integer-exact and the only
    FP is the final weighted mean, rounded to 6 dp.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.col("ts").alias("ts"), "value")
    base = ev.select(
        "event_type", F.date_trunc("day", "ts").alias("day"),
        "event_id", "value", wall_epoch_us("ts").alias("us"))
    w = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    day_end = wall_epoch_us(
        F.col("day") + F.expr("INTERVAL 1 DAY"))
    dt = F.coalesce(F.lead("us").over(w), day_end) - F.col("us")
    return (
        base.withColumn("dt", dt)
        .groupBy("event_type", "day")
        .agg(
            F.round(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6)
            .alias("twap"),
            F.round(F.avg("value"), 6).alias("mean_unweighted"),
            F.count(F.lit(1)).alias("n"),
            F.sum("dt").cast("long").alias("covered_us"),
        )
        .select("event_type", F.col("day").cast("string").alias("day"),
                "twap", "mean_unweighted", "n", "covered_us")
    )


def events_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type statistics: clip values to the [p01, p99]
    percentile envelope and report the clip counts and the raw-vs-
    winsorized mean shift — the robust-mean preprocessing step (tail
    clamping) that precedes z-scoring when outliers would drag the
    moments (the same motivation as events_anomaly_mad, applied as a
    transform rather than a detector).

    Plan: one percentile aggregation per type (exact percentile at
    fixture scale; approx_percentile's mergeable t-digest is the 100 TB
    swap, same shape), the O(types) envelope broadcast back, then a
    single scan-side clip + hash aggregation — the event stream
    shuffles once. Envelope edges are rounded to 4 dp before the
    comparison so both engines clip against bit-identical bounds
    (the events_anomaly_mad portability convention).
    """
    lo_q = 0.01
    hi_q = 0.99
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    env = ev.groupBy("event_type").agg(
        F.round(F.expr(f"percentile(value, {lo_q})"), 4).alias("lo"),
        F.round(F.expr(f"percentile(value, {hi_q})"), 4).alias("hi"))
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(env), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("lo")).cast("long"))
            .alias("n_clipped_low"),
            F.sum((F.col("value") > F.col("hi")).cast("long"))
            .alias("n_clipped_high"),
            F.round(F.avg("value"), 6).alias("mean_raw"),
            F.round(F.avg(clipped), 6).alias("mean_winsorized"),
            F.any_value("lo").alias("lo"),
            F.any_value("hi").alias("hi"),
        )
    )


def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST variant with tolerance: for each event, the
    closest order of that customer in EITHER direction, but only within
    +/- 7 days — pandas' merge_asof(direction='nearest',
    tolerance=...) semantics, the variant backtesting and feature
    pipelines reach for when the fact can legitimately lag or lead its
    dimension. Ties (equidistant before/after) resolve to the earlier
    (backward) order, matching merge_asof.

    Scalable formulation — same union-carry pattern as
    asof_join_events_orders, ONE shuffle on the customer key: both
    streams sort once per key, the backward candidate arrives from a
    last(ignorenulls) over the preceding frame, the forward candidate
    from a first(ignorenulls) over the following frame; both window
    specs share the partitioning AND ordering, so Spark computes them
    in one WindowExec over one exchange (verified in the plan). The
    nearest-of-two pick and the tolerance gate are pure projections.
    Distances compare in exact integer MICROSECONDS (unix_micros /
    epoch_us — identical integers on both engines; no float time math).
    """
    tol_us = 7 * 86_400_000_000
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts"), F.lit(1).alias("side"),
        "event_id", F.lit(None).cast("timestamp_ntz").alias("odate"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("side"), F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").alias("odate"),
    )
    base = Window.partitionBy("k").orderBy("ts", "side")
    w_back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    picked = (
        ev.unionByName(orders)
        .withColumn("back", F.last("odate", ignorenulls=True).over(w_back))
        .withColumn("fwd", F.first("odate", ignorenulls=True).over(w_fwd))
        .where(F.col("side") == 1)
    )
    # odate/ts are TIMESTAMP_NTZ end-to-end (load_table contract), so
    # the epoch extraction is session-timezone-proof integer arithmetic
    um = lambda c: wall_epoch_us(c)  # noqa: E731
    d_back = um("ts") - um("back")
    d_fwd = um("fwd") - um("ts")
    vb = F.col("back").isNotNull() & (d_back <= tol_us)
    vf = F.col("fwd").isNotNull() & (d_fwd <= tol_us)
    use_back = vb & (~vf | (d_back <= d_fwd))
    return (
        picked.select(
            "event_id", F.col("k").alias("user_id"),
            F.when(use_back, F.col("back").cast("string"))
            .when(vf, F.col("fwd").cast("string"))
            .alias("nearest_order_date"),
            F.when(use_back, F.lit("back")).when(vf, F.lit("fwd"))
            .alias("direction"),
            F.when(use_back, d_back).when(vf, d_fwd).alias("dist_us"),
        )
    )


def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exponentially-weighted moving average over the DAILY
    mean series (s_t = alpha*v_t + (1-alpha)*s_{t-1}, seeded s_1 = v_1)
    — the classic smoothing/trend primitive between the gap-fill and
    anomaly operators in this family.

    EWMA is inherently sequential, but the SEQUENCE here is days —
    bounded (365/year) at any corpus size — so the scale-correct plan
    collapses the raw stream to one (type, day) aggregate first (the
    only data-sized exchange), collects each type's bounded day series
    into a sorted array, and folds it with ONE higher-order
    `aggregate` lambda. No window-over-stream, no recursion over the
    event table.

    Determinism: the daily mean is rounded and scaled to an exact
    BIGINT (micro-units) before the fold; the fold then runs the same
    multiply-add sequence over the same exact inputs in the same order
    on both engines (the DuckDB oracle steps the identical recurrence
    with a lockstep recursive CTE), so the float EWMA is bit-identical
    and rounds cleanly at 6 dp.
    """
    alpha = 0.3
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type",
                  F.date_trunc("day", F.col("ts"))
                  .cast("string").alias("day"),
                  "value")
        .groupBy("event_type", "day")
        .agg(fixed(F.avg("value"), 6).alias("v_e6"))
    )
    arr = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "v_e6"))).alias("xs"))
    a = repr(float(alpha))
    b = repr(1.0 - float(alpha))
    step = (f"CASE WHEN acc.k = 0 THEN CAST(x.v_e6 AS DOUBLE) / 1000000.0 "
            f"ELSE {a} * (CAST(x.v_e6 AS DOUBLE) / 1000000.0) "
            f"+ {b} * acc.s END")
    fold = f"""
      aggregate(
        xs,
        named_struct(
          'out',
          CAST(array() AS ARRAY<STRUCT<day STRING, v_e6 BIGINT,
                                       ewma DOUBLE>>),
          's', CAST(0.0 AS DOUBLE), 'k', 0),
        (acc, x) -> named_struct(
          'out', array_append(acc.out,
                   named_struct('day', x.day, 'v_e6', x.v_e6,
                                'ewma', {step})),
          's', {step},
          'k', acc.k + 1),
        acc -> acc.out)
    """
    return (
        arr.select("event_type", F.explode(F.expr(fold)).alias("r"))
        .select(
            "event_type", F.col("r.day").alias("day"),
            (F.col("r.v_e6").cast("double") / F.lit(1e6)).alias("day_avg"),
            half_up(F.col("r.ewma"), 6).alias("ewma"),
        )
    )


def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: per (day-of-week, hour-of-day) cell,
    the event count, its share of all traffic, the load factor vs a
    uniform 168-cell week (1e6 = exactly average), and the mean event
    value — the capacity-planning / anomaly-baseline table every
    event-stream dashboard renders as a weekly heatmap.

    Day-of-week and hour are derived from epoch SECONDS arithmetic
    ((days+3) mod 7 with 0 = Monday; 1970-01-01 was a Thursday), not
    from either engine's dayofweek() — Spark counts 1=Sunday, DuckDB's
    dow counts 0=Sunday and isodow 1=Monday, so named functions are a
    cross-engine parity trap; integer epoch math is identical
    everywhere (session tz pinned UTC). One groupBy over the scan, a
    1-row total broadcast, <= 168 output rows at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    # ts reads as TIMESTAMP_NTZ; session zone is pinned UTC so the cast
    # preserves the instant (same pattern as events_lttb_downsample).
    # Integer micros floor-divided to seconds: DuckDB's epoch()::BIGINT
    # ROUNDS fractional seconds (flipping hour-boundary events), so both
    # engines use epoch_us // 1e6 instead.
    secs = wall_epoch_secs("ts")
    cells = (
        ev.select(
            (((secs / 86400).cast("long") + 3) % 7).alias("dow"),
            ((secs % 86400) / 3600).cast("long").alias("hour"),
            F.col("value"),
        )
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(fixed(F.col("value"), 6)).alias("sv_micros"),
        )
    )
    total = cells.agg(F.sum("n_events").alias("tot"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            F.col("dow").cast("long").alias("dow"),
            F.col("hour").cast("long").alias("hour"),
            F.col("n_events").cast("long").alias("n_events"),
            F.expr("n_events * 1000000 div tot").alias("share_e6"),
            F.expr("n_events * 168 * 1000000 div tot").alias("load_e6"),
            F.expr("sv_micros div n_events").alias("mean_value_micros"),
        )
    )


def session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization-timeout calibration: for each candidate
    inactivity gap (5/15/30/60 minutes), the session count, sessions
    per user, and mean events per session the corpus would produce —
    the tuning table that SETS the timeout before events_session runs
    with it (the session-window twin of quality_threshold_sweep's
    knee-finding read).

    One lag window per user (ordered by ts then event_id for total
    order) computes every inter-event gap ONCE in exact integer
    microseconds; all four thresholds are then conditional sums over
    the same gap relation — no per-threshold re-scan, no explode.
    Output is 4 rows at any scale: n_sessions(T) = n_users + #{gaps >
    T} (each over-gap starts one new session).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (wall_epoch_us("ts")
         - F.lag(wall_epoch_us("ts"), 1)
         .over(w)).alias("gap_us"),
    )
    base = gaps.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        *[F.sum((F.col("gap_us") > F.lit(t * 60 * 1_000_000))
                .cast("long")).alias(f"g{t}")
          for t in (5, 15, 30, 60)],
    )
    rows = [
        base.select(
            F.lit(t).cast("long").alias("gap_minutes"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_events").cast("long").alias("n_events"),
            (F.col("n_users") + F.col(f"g{t}")).cast("long")
            .alias("n_sessions"),
            F.expr(f"(n_users + g{t}) * 1000000 div n_users")
            .alias("sessions_per_user_e6"),
            F.expr(f"n_events * 1000000 div (n_users + g{t})")
            .alias("events_per_session_e6"),
        )
        for t in (5, 15, 30, 60)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def event_pair_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over event streams: baskets are
    (user, day), items are event types, and every unordered type pair
    gets its support count and lift — the classic co-occurrence read
    ("users who purchase also share...") and, over training-corpus
    event logs, the tool-call / action co-occurrence matrix. Lift in
    exact micro-units: support * n_baskets * 1e6 div (supp_a *
    supp_b); > 1e6 means the pair co-occurs more than independence
    predicts.

    Plan: one distinct over (user, day, type) — the only data-sized
    exchange; the pair self-join is keyed on the basket and each
    basket holds at most |event_types| items, so pair fanout per
    basket is bounded by a SMALL constant squared, never by basket
    event volume (the distinct collapses repeats first). Marginals and
    the basket total are metadata-sized broadcasts; output is at most
    C(|types|, 2) rows.
    """
    ev = load_table(spark, sf_dir, "events")
    items = (
        ev.select(
            "user_id",
            F.expr("timestampdiff(MICROSECOND,"
                   " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                   " DIV 86400000000").alias("day"),
            "event_type",
        )
        .distinct()
    )
    baskets = items.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("sz"))
    n_baskets = baskets.agg(F.count(F.lit(1)).alias("nb"))
    supp = items.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("s"))
    pairs = (
        items.alias("a")
        .join(items.alias("b"),
              (F.col("a.user_id") == F.col("b.user_id"))
              & (F.col("a.day") == F.col("b.day"))
              & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("item_a"),
                 F.col("b.event_type").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return (
        pairs
        .join(F.broadcast(supp.select(F.col("event_type").alias("item_a"),
                                      F.col("s").alias("supp_a"))), "item_a")
        .join(F.broadcast(supp.select(F.col("event_type").alias("item_b"),
                                      F.col("s").alias("supp_b"))), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a", "item_b",
            F.col("support").cast("long").alias("support"),
            F.col("supp_a").cast("long").alias("supp_a"),
            F.col("supp_b").cast("long").alias("supp_b"),
            F.col("nb").cast("long").alias("n_baskets"),
            F.expr("support * nb * 1000000 div (supp_a * supp_b)")
            .alias("lift_e6"),
        )
    )


def active_user_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement accounting: per observed day, the daily / weekly /
    monthly active-user counts and the DAU/MAU stickiness ratio — the
    product-analytics table every event pipeline serves, and over
    agent/tool event logs the usage-retention read.

    Exact sliding distinct counts WITHOUT a sliding window over raw
    events: the (user, day) distinct relation (the only data-sized
    exchange) is exploded forward into the 7- and 30-day windows each
    active day contributes to — an exact inversion of the window scan
    that keeps every aggregation keyed and algebraic (window-distinct
    via contribution explode, factor <= 30 over the tiny user-day
    relation, not over events). Days are integer epoch days (the
    portable rule); only observed days are emitted.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
               " DIV 86400000000").alias("day"),
    ).distinct()
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))

    def windowed(n: int, name: str) -> DataFrame:
        return (
            ud.select(
                "user_id",
                F.explode(F.sequence(F.col("day"),
                                     F.col("day") + F.lit(n - 1)))
                .alias("day"))
            .distinct()
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias(name))
        )

    return (
        days.join(dau, "day")
        .join(windowed(7, "wau"), "day")
        .join(windowed(30, "mau"), "day")
        .select(
            F.col("day").cast("long").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.col("mau").cast("long").alias("mau"),
            F.expr("dau * 1000000 div mau").alias("stickiness_e6"),
        )
    )


def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark calibration: per event type, how LATE events arrive
    relative to the max event-time already seen at their arrival point
    (arrival order = event_id, the ingest sequence) — the read that
    sets Structured Streaming's withWatermark() delay. A watermark
    below the observed p95 lateness silently drops 5% of events from
    windowed aggregates; this table makes that trade explicit before a
    stream goes live (streaming/windows.py consumes the chosen delay).

    Lateness = running-max(ts) - ts in exact integer microseconds (one
    cumulative-max window per type in arrival order); p50/p95 are
    ORDER STATISTICS at ranks ceil(q*n) over a second (lateness,
    event_id)-ordered window — both engines agree on every rank.
    Output: one row per event type.
    """
    ev = load_table(spark, sf_dir, "events")
    us = wall_epoch_us("ts")
    warr = (Window.partitionBy("event_type").orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    late = ev.select(
        "event_type", "event_id",
        (F.max(us).over(warr) - us).alias("late_us"),
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.asc("late_us"), F.asc("event_id"))
    ranked = late.select(
        "event_type", "late_us",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")).alias("n"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.sum((F.col("late_us") > 0).cast("long")).alias("n_late"),
            F.expr("sum(CAST(late_us > 0 AS BIGINT)) * 1000000"
                   " div max(n)").alias("late_frac_e6"),
            F.max(F.when(F.expr("rn = (n + 1) div 2"),
                         F.col("late_us"))).alias("p50_late_us"),
            F.max(F.when(F.expr("rn = (n * 95 + 99) div 100"),
                         F.col("late_us"))).alias("p95_late_us"),
            F.max("late_us").alias("max_late_us"),
        )
    )


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over each event type's daily count
    series: S_t = max(0, S_{t-1} + (x_t*n - T)), the one-sided Page
    cusum of deviations from the series' own mean, flagged when the
    statistic exceeds h = 2*T — the stream-monitoring primitive that
    catches a sustained rate shift (a source turning on/off, a scraper
    going haywire) that per-day z-scores miss because no single day is
    extreme.

    ALL-INTEGER arithmetic: deviations are scaled by the day count n
    (x_t*n - T is the exact deviation times n, an integer), so S and
    the threshold comparison never touch a float — bit-identical
    cross-engine by construction, no rounding convention needed at
    all. Sequential like EWMA, and handled the same scale-correct way:
    the raw stream collapses to the (type, day) aggregate (the only
    data-sized exchange), each type's bounded day series folds with
    one higher-order aggregate lambda; the oracle steps the identical
    recurrence as a lockstep recursive CTE.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type",
                  F.date_trunc("day", F.col("ts"))
                  .cast("string").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    arr = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("xs"),
        F.sum("x").alias("t_total"),
        F.count(F.lit(1)).alias("n_days"),
    )
    step = "greatest(CAST(0 AS BIGINT), acc.s + (x.x * n_days - t_total))"
    fold = f"""
      aggregate(
        xs,
        named_struct(
          'out',
          CAST(array() AS ARRAY<STRUCT<day STRING, x BIGINT,
                                       s BIGINT>>),
          's', CAST(0 AS BIGINT)),
        (acc, x) -> named_struct(
          'out', array_append(acc.out,
                   named_struct('day', x.day, 'x', CAST(x.x AS BIGINT),
                                's', {step})),
          's', {step}),
        acc -> acc.out)
    """
    return (
        arr.select("event_type", "t_total", "n_days",
                   F.explode(F.expr(fold)).alias("r"))
        .select(
            "event_type",
            F.col("r.day").alias("day"),
            F.col("r.x").cast("long").alias("daily_count"),
            F.col("r.s").cast("long").alias("cusum_scaled"),
            (F.col("r.s") > F.lit(2) * F.col("t_total"))
            .cast("long").alias("shift_flag"),
        )
    )


def conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each order (the conversion)
    is credited to the LAST event of that customer at-or-before the
    order date, rolled up per event type with conversion counts and
    exact time-to-convert percentiles — the marketing-analytics twin
    of the as-of join (same one-shuffle union trick; the credit rule
    is the industry-default last-touch, deterministic via the
    (ts, side, event_id) total order where the latest event and
    highest event_id win ties).

    Plan: union events and orders tagged by side, one window keyed on
    user carrying the last event forward — never a per-order range
    join. Unattributed orders (no prior event) appear as the
    '(none)' row so the credit table always sums to the order count.
    Percentile ranks are exact order statistics.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        wall_epoch_us("ts").alias("t_us"),
        F.lit(0).alias("side"),
        "event_type", "event_id",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        wall_epoch_us("o_orderdate")
        .alias("t_us"),
        F.lit(1).alias("side"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("long").alias("event_id"),
    )
    w = (Window.partitionBy("k").orderBy("t_us", "side", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tagged = ev.unionByName(orders).select(
        "k", "t_us", "side",
        F.last("event_type", ignorenulls=True).over(w).alias("last_type"),
        F.last(F.when(F.col("side") == 0, F.col("t_us")),
               ignorenulls=True).over(w).alias("last_ev_us"),
    )
    conv = tagged.where(F.col("side") == 1).select(
        F.coalesce(F.col("last_type"), F.lit("(none)")).alias("credit"),
        (F.col("t_us") - F.col("last_ev_us")).alias("lag_us"),
    )
    wr = Window.partitionBy("credit").orderBy(
        F.asc_nulls_last("lag_us"))
    ranked = conv.select(
        "credit", "lag_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("credit")).alias("n"),
    )
    return (
        ranked.groupBy("credit")
        .agg(
            F.max("n").cast("long").alias("n_conversions"),
            F.max(F.when(F.expr("rn = (n + 1) div 2"),
                         F.col("lag_us"))).alias("p50_lag_us"),
            F.max(F.when(F.expr("rn = (n * 95 + 99) div 100"),
                         F.col("lag_us"))).alias("p95_lag_us"),
        )
    )


def user_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands read behind engagement / retention dashboards
    (extends the reference's per-key aggregation surface, SURVEY.md §2
    op-10, to ordered-run analytics the way `dedup_repeated_spans` does
    for token positions).

    Plan shape (scale-correct at any event volume): the raw stream
    collapses to DISTINCT (user_id, day) FIRST — the only data-sized
    exchange — then one window pass per user assigns island ids via the
    day_number − row_number trick (consecutive days share a constant
    difference), and two bounded aggregations produce islands and the
    per-user rollup. Day numbers are exact integer day-diffs from a
    fixed epoch on BOTH engines, so island grouping is arithmetic, not
    calendar-string, and engine-portable.

    The longest-streak argmax (earliest start wins ties) rides the same
    user-partitioned exchange: a window max over islands, then a
    filtered min — no extra shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select("user_id", day_index("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = (
        days.withColumn("rn", F.row_number().over(w))
        .withColumn("grp", F.col("d") - F.col("rn"))
        .groupBy("user_id", "grp")
        .agg(F.min("d").alias("start_d"),
             F.count(F.lit(1)).cast("long").alias("len"))
    )
    wu = Window.partitionBy("user_id")
    return (
        islands.withColumn("mx", F.max("len").over(wu))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.sum("len").cast("long").alias("n_active_days"),
            F.max("len").cast("long").alias("longest_streak"),
            F.min(F.when(F.col("len") == F.col("mx"), F.col("start_d")))
            .alias("ls_d"),
        )
        .select(
            "user_id", "n_streaks", "n_active_days", "longest_streak",
            index_date(F.col("ls_d")).cast("string")
            .alias("longest_streak_start"),
        )
    )


def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series per
    event type, lags 1..max_lag — the seasonality / persistence
    diagnostic read before fitting any forecast model (pairs with
    `events_dow_hour_profile`'s fixed-grid view).

    Scale shape: the stream collapses to one bounded (type, day) count
    table (the only data-sized exchange; ≤ 366 rows/type/year at any
    corpus size), the lag pairing is a broadcast self-join on exact
    integer day numbers, and each (type, lag) cell reduces the five
    Pearson sums. All sums are exact BIGINT arithmetic (counts are
    integers); only the final correlation divides in DOUBLE, and it is
    rounded with ``half_up`` at 6 dp, the repo's cross-engine float
    convention.
    """
    from hadoop_mapreduce_spark.session import scoped_persist

    ev = load_table(spark, sf_dir, "events")
    # Persisted: both sides of the lag self-join read this bounded
    # (type, day) table — without the persist each alias re-runs the
    # full events scan + aggregation.
    daily = scoped_persist(
        ev.select("event_type", day_index("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.d") == F.col("a.d") - F.col("lag")))
        .select(F.col("a.event_type").alias("event_type"), "lag",
                F.col("a.x").alias("x"), F.col("b.x").alias("y"))
    )
    g = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = ((F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"))
           * (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")))
    return (
        g.select(
            "event_type", F.col("lag").cast("long").alias("lag"),
            F.col("n").alias("n_pairs"),
            F.when(den > 0, half_up(
                num.cast("double") / F.sqrt(den.cast("double")), 6))
            .alias("acf"),
        )
    )


def session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity / licensing
    metric ("how many users were on AT ONCE") that a plain daily
    session count cannot answer. Sessions are ``sessionize``'s, as in
    `events_session`; a session is live on [first_ts, last_ts + gap),
    the interval Spark's session windows give it.

    Distributed sweep-line, no global sort of the boundary stream:
      1. sessions collapse to ±1 boundary rows (one data-sized agg);
      2. per-HOUR delta totals form a BOUNDED table (≤ 8760 rows/year
         at any corpus size) whose single-partition running sum yields
         each hour's entry concurrency — the classic two-level scan
         that replaces a global window over the data;
      3. within each hour partition a keyed window finishes the prefix
         sum; boundary concurrency = hour offset + local running sum.
    Midnight PROBE rows (delta 0, one per day on a bounded spine)
    sample the running value at day start, so a day whose peak is
    carried entirely by sessions spanning midnight (no +1 boundary that
    day) still reports its true maximum.

    Tie rule at identical microsecond: ends (−1) before probes (0)
    before starts (+1) — a session ending exactly when another starts
    is NOT concurrent with it; both engines order by (t_us, delta).
    """
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev).groupBy("user_id", "session_id").agg(
        wall_epoch_us(F.min("ts")).alias("s_us"),
        (wall_epoch_us(F.max("ts")) + SESSION_GAP_US).alias("e_us"))
    from hadoop_mapreduce_spark.session import scoped_persist

    # The boundary relation feeds THREE consumers (day-range probe,
    # per-hour offsets, within-hour prefix sums); persisted once so the
    # session aggregation — the only data-sized stage — runs a
    # single time (measured 4.26 s -> see SCALE4_r7k.json).
    bounds = scoped_persist(
        sess.select(F.col("s_us").alias("t_us"),
                    F.lit(1).cast("long").alias("delta"))
        .unionAll(sess.select(F.col("e_us").alias("t_us"),
                              F.lit(-1).cast("long").alias("delta")))
    )
    day_us = 86_400_000_000
    rng = bounds.agg(
        F.min(F.expr(f"t_us DIV {day_us}")).alias("d0"),
        F.max(F.expr(f"t_us DIV {day_us}")).alias("d1"))
    probes = rng.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("dnum")).select(
        (F.col("dnum") * F.lit(day_us)).alias("t_us"),
        F.lit(0).cast("long").alias("delta"))
    allb = bounds.unionAll(probes).withColumn(
        "bucket", F.expr("t_us DIV 3600000000"))
    per_bucket = allb.groupBy("bucket").agg(F.sum("delta").alias("bsum"))
    # Running sum over the BOUNDED per-hour table: a single-partition
    # window over ≤ 8760 rows/year is the intended plan, not a scale
    # hazard (same pattern as the day-spine ops).
    wb = (Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bsum").over(wb), F.lit(0)).alias("off"))
    wi = (Window.partitionBy("bucket").orderBy("t_us", "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    conc = (
        allb.withColumn("run", F.sum("delta").over(wi))
        .join(F.broadcast(offsets), "bucket")
        .withColumn("conc", F.col("off") + F.col("run"))
    )
    return (
        conc.groupBy(F.expr(f"t_us DIV {day_us}").alias("dnum"))
        .agg(
            F.max("conc").cast("long").alias("max_concurrency"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("long").alias("n_sessions_started"),
            F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
            .cast("long").alias("n_sessions_ended"),
        )
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"),
                       F.col("dnum").cast("int")).cast("string")
            .alias("day"),
            "max_concurrency", "n_sessions_started", "n_sessions_ended",
        )
    )


def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (level + linear trend) over
    the per-type DAILY event-count series, with the one-step-ahead
    forecast and its absolute error — the trend-aware upgrade of
    `events_ewma_daily` (which models level only and lags any ramp).

      l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})      seed l_1 = x_1
      b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}      seed b_1 = 0
      forecast_t (made at t−1) = l_{t−1} + b_{t−1}

    Scale + determinism shape is exactly the EWMA operator's: the
    stream collapses to one bounded (type, day) count table (the only
    data-sized exchange; the recursion runs over DAYS, ≤ 366/year at
    any corpus size), each type's series folds with ONE higher-order
    `aggregate` lambda, and because the inputs are exact BIGINTs and
    both engines execute the identical multiply-add sequence in the
    identical order (DuckDB steps the same recurrence in a lockstep
    recursive CTE), the float chain is bit-identical and floor-rounds
    cleanly at 6 dp.
    """
    alpha = 0.5
    beta = 0.3
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", day_index("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    arr = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("xs"))
    a, oa = repr(float(alpha)), repr(1.0 - float(alpha))
    b, ob = repr(float(beta)), repr(1.0 - float(beta))
    lvl = (f"CASE WHEN acc.k = 0 THEN CAST(x.x AS DOUBLE) "
           f"ELSE {a} * CAST(x.x AS DOUBLE) "
           f"+ {oa} * (acc.l + acc.b) END")
    trd = (f"CASE WHEN acc.k = 0 THEN CAST(0.0 AS DOUBLE) "
           f"ELSE {b} * (({lvl}) - acc.l) + {ob} * acc.b END")
    fct = "CASE WHEN acc.k = 0 THEN CAST(NULL AS DOUBLE) ELSE acc.l + acc.b END"
    fold = f"""
      aggregate(
        xs,
        named_struct(
          'out',
          CAST(array() AS ARRAY<STRUCT<d BIGINT, x BIGINT, l DOUBLE,
                                       b DOUBLE, f DOUBLE>>),
          'l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE), 'k', 0),
        (acc, x) -> named_struct(
          'out', array_append(acc.out,
                   named_struct('d', CAST(x.d AS BIGINT), 'x', x.x,
                                'l', {lvl}, 'b', {trd}, 'f', {fct})),
          'l', {lvl},
          'b', {trd},
          'k', acc.k + 1),
        acc -> acc.out)
    """
    return (
        arr.select("event_type", F.explode(F.expr(fold)).alias("r"))
        .select(
            "event_type",
            index_date(F.col("r.d").cast("int")).cast("string")
            .alias("day"),
            F.col("r.x").alias("n_events"),
            half_up(F.col("r.l"), 6).alias("level"),
            half_up(F.col("r.b"), 6).alias("trend"),
            half_up(F.col("r.f"), 6).alias("forecast"),
            half_up(F.abs(F.col("r.x").cast("double") - F.col("r.f")), 6)
            .alias("abs_error"),
        )
    )


def sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) motif table: each event
    type's daily-count series is z-normalised and quantised to a
    4-symbol alphabet at the N(0,1) quartile breakpoints (−0.6745, 0,
    0.6745), then every 3-day window of CONSECUTIVE days becomes a
    motif word — the classic symbolic index for "what shapes recur in
    this series" (Lin/Keogh), feeding anomaly triage next to CUSUM and
    the ACF.

    Determinism without a rounding convention: the symbols come from
    COMPARISONS, not emitted floats. mean/var derive from exact BIGINT
    window sums (S, S2, n per type), both engines build z with the
    identical expression tree, and a tie z == breakpoint would require
    the integer-derived double to land exactly on an irrational-ish
    quartile constant — the fightin_words measure-zero argument. A
    zero-variance series maps wholly to 'b'.

    Scale shape: the raw stream collapses to the bounded (type, day)
    table once; stats ride a type-keyed window over it (≤ 366
    rows/type/year), motif assembly is two leads over the same window
    order, and the motif rollup is alphabet-bounded (≤ 4³ rows/type).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", day_index("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    wt = Window.partitionBy("event_type")
    stats = daily.select(
        "event_type", "d", "x",
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("x").over(wt).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(wt).alias("s2"),
    )
    m = F.col("s").cast("double") / F.col("n").cast("double")
    v = (F.col("s2").cast("double") / F.col("n").cast("double")) - m * m
    z = (F.col("x").cast("double") - m) / F.sqrt(v)
    sym = (
        F.when(v <= 0, "b")
        .when(z < -0.6745, "a")
        .when(z < 0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    motifs = (
        stats.select("event_type", "d", sym.alias("sym"))
        .select(
            "event_type", "d", "sym",
            F.lead("sym", 1).over(wo).alias("s1"),
            F.lead("sym", 2).over(wo).alias("s2"),
            F.lead("d", 1).over(wo).alias("d1"),
            F.lead("d", 2).over(wo).alias("d2"),
        )
        .where((F.col("d1") == F.col("d") + 1)
               & (F.col("d2") == F.col("d") + 2))
        .select("event_type",
                F.concat("sym", "s1", "s2").alias("motif"))
    )
    return (
        motifs.groupBy("event_type", "motif")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE / CEP-style event-pattern detection over
    sessions — the "did the user view, then click around, then buy,
    without erroring in between?" query that SQL engines express with
    MATCH_RECOGNIZE and Flink with CEP. Spark has neither; the
    Spark-native formulation SYMBOLIZES each session (one char per
    event in time order: v/c/p/s/e) and runs the pattern as a regex
    over the session string — regular expressions ARE the
    MATCH_RECOGNIZE pattern language, so this is semantics-complete
    for non-overlapping greedy matches.

    Patterns audited (explicit char classes, Java == RE2):
      direct_convert   v c* p        (view, clicks, purchase)
      browse_abandon   v c+ $        (clicky session that never buys)
      error_retry      e [^e]* p     (recovers from an error to buy)
      signup_activate  s [vc]* p     (activation funnel)

    Scale shape: ONE user-keyed exchange builds the per-session symbol
    strings (collect_list bounded by session length — the same bound
    every session operator here carries); the pattern grid is a
    broadcast of 4 literals; output is 4 rows. Counts are exact
    integers; shares exact micro-units.
    """
    ev = load_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    sess = (
        sessionize(ev.select("user_id", "ts", "event_id", sym.alias("ch")))
        .groupBy("user_id", "session_id")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("ts", "event_id", "ch"))),
                lambda s: s["ch"]), "").alias("seq"))
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    sess = scoped_persist(sess)
    # Spark's regexp functions need FOLDABLE patterns — the grid is a
    # unioned 4-branch literal scan over the persisted session table,
    # not a pattern-column crossJoin.
    pats = [("browse_abandon", "vc+$"),
            ("direct_convert", "vc*p"),
            ("error_retry", "e[^e]*p"),
            ("signup_activate", "s[vc]*p")]
    per = None
    for name, re_lit in pats:
        b = sess.select(
            F.lit(name).alias("pattern"),
            F.size(F.regexp_extract_all("seq", F.lit(re_lit), F.lit(0)))
            .cast("long").alias("m"))
        per = b if per is None else per.unionAll(b)
    total = sess.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"))
    hits = per.groupBy("pattern").agg(
        F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).cast("long")
        .alias("n_sessions_matched"),
        F.sum("m").cast("long").alias("n_matches"),
    )
    return (
        hits.crossJoin(F.broadcast(total))
        .select(
            "pattern", "n_sessions_matched", "n_matches",
            F.expr("n_sessions_matched * 1000000 DIV n_sessions")
            .alias("session_share_e6"),
        )
    )


def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve of user lifetime with
    right-censoring — the churn statistic `events_retention_cohorts`
    approximates without censoring handling.  A user's lifetime is
    last_active_day - first_active_day; the churn event is OBSERVED
    only when the user has been silent for > 7 days before the
    corpus end, otherwise the lifetime is right-censored (the user may
    still be active).

    Scale shape: one per-user aggregation of the raw stream (the only
    data-sized exchange, map-side-combined), a 1-row global-max
    broadcast, then a groupBy(duration) grid bounded by the corpus day
    span (<=366 rows/year regardless of user count), on which every
    cumulative window runs.  At-risk counts and death/censor counts are
    exact BIGINT; only the survival product leaves integers, via the
    deterministic exp-sum-ln fold over the ordered grid (both engines
    fold the identical doubles in the identical order; floor-rounded at
    6 dp per the repo convention).  n_at_risk(t) counts every user with
    duration >= t — censored-at-t users are at risk at t (the standard
    deaths-before-censoring convention).  A zero-survivor step (d = n)
    forces survival exactly 0.0 from that step on, rather than
    ln(0) = NULL poisoning the window (Spark) or -inf (DuckDB).
    """
    ev = load_table(spark, sf_dir, "events")
    day = day_index("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(day).alias("first_d"), F.max(day).alias("last_d"))
    gmax = per_user.agg(F.max("last_d").alias("corpus_end"))
    durs = (
        per_user.crossJoin(F.broadcast(gmax))
        .select(
            (F.col("last_d") - F.col("first_d")).cast("long").alias("t"),
            (F.col("last_d")
             < F.col("corpus_end") - F.lit(7))
            .cast("long").alias("churned"),
        )
    )
    grid = durs.groupBy("t").agg(
        F.sum("churned").alias("d"),
        (F.count(F.lit(1)) - F.sum("churned")).alias("c"),
    )
    tot = grid.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    w_below = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_upto = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    km = (
        grid.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_at_risk",
            (F.col("n_total")
             - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_below),
                          F.lit(0))).cast("long"))
        .withColumn(
            "lnf",
            F.when(
                F.col("d") > 0,
                F.log((F.col("n_at_risk") - F.col("d"))
                      .cast("double") / F.col("n_at_risk")),
            ).otherwise(F.lit(0.0)))
        .withColumn("min_surv", F.min(F.col("n_at_risk") - F.col("d"))
                    .over(w_upto))
    )
    surv = F.when(F.col("min_surv") == 0, F.lit(0.0)).otherwise(
        F.exp(F.sum("lnf").over(w_upto)))
    return (
        km.select(
            "t",
            F.col("d").cast("long").alias("n_churned"),
            F.col("c").cast("long").alias("n_censored"),
            "n_at_risk",
            half_up(surv, 6).alias("survival"),
        )
    )


def events_stl_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-trend decomposition (STL-style, single pass) of the
    daily event-count series per event type: trend = 7-day centered
    moving average, seasonal = per-day-of-week mean of the detrended
    residual.  The decomposition behind every "is Monday really
    slower?" dashboard — `events_dow_hour_profile` reports the RAW
    day-of-week profile, which conflates trend with seasonality; this
    op subtracts the trend first, the statistic STL actually defines.

    Exactness: a full 7-day centered window has an integer sum, so the
    detrended value scaled by 7 — d7 = 7*n - sum7 — is exact BIGINT;
    per-DOW aggregation sums d7 exactly, and the single final division
    sum_d7 / (7*n_days) is one double op, floor-rounded 6 dp (the repo
    convention).  Edge days without a full +/-3-day window are excluded
    (count over the frame < 7), matching textbook centered-MA edge
    handling — no partial-window bias.

    Scale: one data-sized groupBy((type, day)) with map-side combine;
    the MA window and DOW rollup run on the bounded daily grid
    (<=366 rows/type/year at any corpus size), partitioned by type.
    """
    ev = load_table(spark, sf_dir, "events")
    day = day_index("ts")
    daily = ev.groupBy(
        F.col("event_type"), day.alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    w7 = (Window.partitionBy("event_type").orderBy("d")
          .rangeBetween(-3, 3))
    det = (
        daily.withColumn("sum7", F.sum("n").over(w7))
        .withColumn("cnt7", F.count("n").over(w7))
        .where(F.col("cnt7") == 7)
        .select(
            "event_type",
            # Monday=0 .. Sunday=6; day 0 is a Monday, d % 7 is
            # engine-portable integer arithmetic (d >= 0 always).
            (F.col("d") % 7).alias("dow"),
            (F.lit(7) * F.col("n") - F.col("sum7")).alias("d7"),
        )
    )
    return (
        det.groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("d7").cast("long").alias("sum_d7"),
        )
        .select(
            "event_type", "dow", "n_days", "sum_d7",
            half_up(F.col("sum_d7").cast("double")
                    / (F.lit(7.0) * F.col("n_days")), 6)
            .alias("seasonal"),
        )
    )


def user_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the Social-Capital "quick ratio"
    ledger): every active user-week is classified NEW (first active
    week ever), RETAINED (also active the previous week) or
    RESURRECTED (gap > 1 week); CHURNED is charged to the week AFTER an
    activity gap begins.  The invariant actives(w) = new + retained +
    resurrected and actives(w) - actives(w-1) = new + resurrected -
    churned makes the ledger self-auditing — distinct from
    `events_retention_cohorts` (fixed-cohort triangle) and
    `active_user_ratios` (rolling actives, no classification).

    All-integer: weeks are epoch-day DIV 7; classification is lag/lead
    arithmetic on the per-user ordered week list; the quick ratio
    (new + resurrected) / churned is emitted in exact micro-units with
    a NULL guard for churn-free weeks.

    Scale: one distinct (user, week) projection (data-sized,
    map-side-combined), per-user windows (partitioned, never global),
    and a week-keyed rollup bounded by the corpus week span.
    """
    ev = load_table(spark, sf_dir, "events")
    day = day_index("ts")
    uw = (
        # integer week index: DIV truncation == floor for d >= 0, and
        # avoids double->int cast (truncating in Spark, ROUNDING in
        # DuckDB — a real cross-engine trap)
        ev.select("user_id", day.alias("d"))
        .select("user_id", F.expr("d DIV 7").cast("int").alias("wk"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("wk")
    classified = (
        uw.withColumn("prev", F.lag("wk").over(w))
        .withColumn("nxt", F.lead("wk").over(w))
    )
    per_week = (
        classified.groupBy("wk")
        .agg(
            F.sum(F.when(F.col("prev").isNull(), 1).otherwise(0))
            .alias("n_new"),
            F.sum(F.when(F.col("prev") == F.col("wk") - 1, 1).otherwise(0))
            .alias("n_retained"),
            F.sum(F.when(F.col("prev") < F.col("wk") - 1, 1).otherwise(0))
            .alias("n_resurrected"),
        )
    )
    gmax = uw.agg(F.max("wk").alias("max_wk"))
    churn = (
        classified.crossJoin(F.broadcast(gmax))
        # the churn event lands in week wk+1 when the user's next
        # active week (if any) is not wk+1 — only while the corpus can
        # still observe it (wk + 1 <= max_wk)
        .where((F.col("nxt").isNull() | (F.col("nxt") > F.col("wk") + 1))
               & (F.col("wk") + 1 <= F.col("max_wk")))
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return (
        # full outer: a week can have churn but zero actives (everyone
        # gone) — the ledger must still show that week's churn row
        per_week.join(churn, "wk", "full")
        .select(
            F.col("wk").cast("long").alias("wk"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            F.coalesce(F.col("n_retained"), F.lit(0)).cast("long")
            .alias("n_retained"),
            F.coalesce(F.col("n_resurrected"), F.lit(0)).cast("long")
            .alias("n_resurrected"),
            F.coalesce(F.col("n_churned"), F.lit(0)).cast("long")
            .alias("n_churned"),
            (F.coalesce(F.col("n_new"), F.lit(0))
             + F.coalesce(F.col("n_retained"), F.lit(0))
             + F.coalesce(F.col("n_resurrected"), F.lit(0)))
            .cast("long").alias("n_active"),
            F.expr("""CASE WHEN coalesce(n_churned, 0) > 0
                      THEN (coalesce(n_new, 0) + coalesce(n_resurrected, 0))
                           * 1000000 DIV n_churned END""")
            .alias("quick_ratio_e6"),
        )
    )


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the daily event-count series per event
    type: slope = median of all pairwise slopes, intercept = median of
    (y - slope*x) — the estimator that shrugs off the outlier days that
    wreck an OLS fit (the robust-regression sibling of
    `events_anomaly_mad`'s robust dispersion; `events_holt_linear`
    tracks trend but is exponentially weighted, not robust).

    Exactness: pairwise slopes are single divisions of exact BIGINT
    differences — identical doubles on both engines; the median is the
    interpolating percentile(0.5) (Spark percentile == DuckDB
    quantile_cont), which averages two identical doubles at worst.  The
    slope is floor-rounded at 6 dp BEFORE the intercept pass, so the
    residual medians also operate on engine-identical inputs.

    Scale: the stream collapses to the bounded (type, day) grid first
    (<=366 rows/type/year — the only data-sized exchange); the pair
    self-join is grid x grid within a type, O(days^2) <= 67k pairs per
    type per year, metadata-sized at any corpus size; per-type slope
    rows broadcast back for the intercept pass.
    """
    from hadoop_mapreduce_spark.session import scoped_persist

    ev = load_table(spark, sf_dir, "events")
    day = day_index("ts")
    daily = scoped_persist(
        ev.groupBy("event_type", day.alias("d"))
        .agg(F.count(F.lit(1)).alias("n")))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
               & (F.col("a.d") < F.col("b.d")))
        .select(
            F.col("a.event_type").alias("event_type"),
            ((F.col("b.n") - F.col("a.n")).cast("double")
             / (F.col("b.d") - F.col("a.d")).cast("double")).alias("s"),
        )
    )
    per_type = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        half_up(F.expr("percentile(s, 0.5)"), 6).alias("slope"),
    )
    resid = (
        daily.join(F.broadcast(per_type), "event_type")
        .select(
            "event_type", "n_pairs", "slope",
            (F.col("n").cast("double")
             - F.col("slope") * F.col("d").cast("double")).alias("r"),
        )
    )
    return (
        resid.groupBy("event_type", "n_pairs", "slope")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            half_up(F.expr("percentile(r, 0.5)"), 6).alias("intercept"),
        )
        .select("event_type", "n_days", "n_pairs", "slope", "intercept")
    )


def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k full navigation paths: the ordered event-type sequence of
    each user session, truncated to its first 12 events, counted
    across the corpus — the whole-journey statistic
    `events_session_bigrams` only sees two steps of.

    Sessions are ``sessionize``'s, as in events_session_bigrams, and
    the oracle splices its SQL twin, so both engines agree on session
    boundaries bit-for-bit.  Path assembly sorts each session's
    (ts, event_id, type) structs — ties on ts are broken by event_id,
    engine-portable — and the truncation cap bounds both the collected
    array and the emitted string at any session length (a runaway bot
    session contributes a fixed-size path, not an unbounded row).

    Scale: one user-keyed window pass, one (user, session) aggregation
    whose state is capped by 12 steps after truncation, and a
    path-keyed count whose key space is bounded by |event_types|^
    12 in theory but by observed path diversity in practice;
    top-k is TakeOrdered, no global sort.
    """
    ev = load_table(spark, sf_dir, "events")
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id")
    ranked = sessionize(ev).withColumn("rn", F.row_number().over(ws))
    # collect_list skips NULLs, so the aggregation state holds at most
    # 12 structs per session REGARDLESS of session length — the
    # truncation happens before the collect, not after
    paths = (
        ranked.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(F.collect_list(
                        F.when(F.col("rn") <= 12,
                               F.struct("ts", "event_id", "event_type")))),
                    lambda s: s["event_type"],
                ),
            ).alias("path"),
            F.count(F.lit(1)).alias("len"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.min("len").cast("long").alias("min_len"),
            F.max("len").cast("long").alias("max_len"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(50)
    )


def attribution_linear_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every non-purchase touch of the
    converting user inside the lookback window before a 'purchase'
    event shares the conversion credit equally — the fairness-spread
    counterpoint to `conversion_attribution`'s last-touch rule.
    Conversions are purchase EVENTS (the orders table lives in
    1995-2001, disjoint from the 2024 event stream by fixture design,
    so order-based multi-touch would be the degenerate all-'(none)'
    table; last-touch attribution keeps orders to demonstrate the
    as-of-union shape — this op demonstrates the credit arithmetic).

    Credit is exact micro-units: each conversion distributes
    floor(1e6 * n_type_touches / n_touches) per touching event type
    (DIV truncation — per-conversion credit sums to <= 1e6, remainder
    dropped, never double-counted).  Touchless purchases land in the
    '(none)' row with full credit, so credit is conserved to within
    truncation; n_conversions_credited counts conversions contributing
    to the row (a conversion touching two types appears in both rows —
    per-type reach, not a partition).

    Scale: the touch join is a user-keyed equi-join with a time-range
    filter — fan-out is the user's in-window activity (bounded by the
    lookback cap), never a global range join; both rollups ride the
    (conversion) and (type) keys with map-side combine.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        wall_epoch_us("ts").alias("t_us"),
        "event_type", "event_id",
    )
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("k").alias("ck"), F.col("t_us").alias("c_us"),
        F.col("event_id").alias("conv_id"),
    )
    touch_src = ev.where(F.col("event_type") != "purchase")
    lb = F.lit(7 * 86400 * 1000000)
    # explicit aliases: both sides share the ev lineage, and unaliased
    # F.col() can silently resolve through the wrong parent (classic
    # self-join trap — this bug shipped as an all-'(none)' table once)
    touches = conv.alias("c").join(
        touch_src.alias("t"),
        (F.col("c.ck") == F.col("t.k"))
        & (F.col("t.t_us") <= F.col("c.c_us"))
        & (F.col("t.t_us") > F.col("c.c_us") - lb),
        "left",
    ).select(F.col("c.conv_id").alias("conv_id"),
             F.col("t.event_type").alias("event_type"))
    per_conv = touches.groupBy("conv_id").agg(
        F.count("event_type").alias("n_touches"))
    per_conv_type = (
        touches.groupBy(
            "conv_id",
            F.coalesce(F.col("event_type"), F.lit("(none)"))
            .alias("credit"))
        .agg(F.count(F.lit(1)).alias("n_type"))
    )
    credited = (
        per_conv_type.join(per_conv, "conv_id")
        .select(
            "credit",
            F.when(F.col("n_touches") == 0, F.lit(1000000))
            .otherwise(F.expr("n_type * 1000000 DIV n_touches"))
            .alias("credit_e6"),
            F.when(F.col("n_touches") == 0, F.lit(0))
            .otherwise(F.col("n_type")).alias("n_type_touches"),
        )
    )
    return (
        credited.groupBy("credit")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions_credited"),
            F.sum("credit_e6").cast("long").alias("total_credit_e6"),
            F.sum("n_type_touches").cast("long").alias("n_touches_total"),
        )
    )


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST per event type — the nonparametric
    significance companion to `theil_sen_trend`'s slope estimate (the
    two are the standard pairing: MK says WHETHER a monotone trend
    exists, Theil-Sen says how steep).  S = Σ_{i<j} sign(x_j − x_i)
    over the daily count series, with the tie-corrected variance
       Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18
    summed over groups of tied VALUES.

    Exactness: S, both variance numerators, and the tie table are pure
    BIGINT (sign comparisons and polynomial sums of integers); the only
    doubles are the final continuity-corrected z = (S∓1)/sqrt(Var) and
    they divide exact integers, floor-rounded 6 dp.

    Scale: everything runs on the bounded (type, day) grid — the pair
    enumeration is days², ≤67k pairs/type/year, metadata-sized; the
    tie table is value-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    day = day_index("ts")
    daily = ev.groupBy("event_type", day.alias("d")).agg(
        F.count(F.lit(1)).alias("n"))
    from hadoop_mapreduce_spark.session import scoped_persist

    daily = scoped_persist(daily)
    a, b = daily.alias("a"), daily.alias("b")
    s_tab = (
        a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
               & (F.col("a.d") < F.col("b.d")))
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum(F.signum(F.col("b.n") - F.col("a.n")).cast("long"))
             .cast("long").alias("s"))
    )
    counts = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"))
    ties = (
        daily.groupBy("event_type", "n")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(F.sum(F.col("t") * (F.col("t") - 1)
                   * (2 * F.col("t") + 5)).cast("long").alias("tie18"))
    )
    z = F.when(
        F.col("var18") <= 0, F.lit(None).cast("double")
    ).when(
        F.col("s") > 0,
        (F.col("s") - 1).cast("double")
        / F.sqrt(F.col("var18").cast("double") / F.lit(18.0)),
    ).when(
        F.col("s") < 0,
        (F.col("s") + 1).cast("double")
        / F.sqrt(F.col("var18").cast("double") / F.lit(18.0)),
    ).otherwise(F.lit(0.0))
    return (
        s_tab.join(counts, "event_type")
        .join(ties, "event_type", "left")
        .withColumn(
            "var18",
            (F.col("n_days") * (F.col("n_days") - 1)
             * (2 * F.col("n_days") + 5)
             - F.coalesce(F.col("tie18"), F.lit(0))).cast("long"))
        .select(
            "event_type", "n_days", "s", "var18",
            half_up(z, 6).alias("z"),
        )
    )


def forecast_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's count with the
    value one season (7 days) earlier, score MAE / MAPE / bias per
    event type — the evaluation floor every real forecast
    (`events_holt_linear`, `events_ewma_daily`) must beat before it
    earns dashboard space; shipping a model without this baseline row
    is the classic forecasting mistake.

    All-integer: errors are |n_t − n_{t−7}| BIGINT sums; MAE and bias
    are micro-unit integer divisions; MAPE sums per-day micro-unit
    ratios |err|·1e6 DIV actual (actual ≥ 1 by construction — a day
    with zero events has no row and is NOT a forecastable point,
    documented).  Scale: bounded (type, day) grid; the season lag is a
    grid self-join on exact integer day keys.
    """
    ev = load_table(spark, sf_dir, "events")
    day = day_index("ts")
    daily = ev.groupBy("event_type", day.alias("d")).agg(
        F.count(F.lit(1)).alias("n"))
    from hadoop_mapreduce_spark.session import scoped_persist

    daily = scoped_persist(daily)
    a, b = daily.alias("a"), daily.alias("b")
    scored = (
        a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
               & (F.col("b.d") == F.col("a.d") - 7))
        .select(
            F.col("a.event_type").alias("event_type"),
            (F.col("a.n") - F.col("b.n")).alias("err"),
            F.col("a.n").alias("actual"),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(F.abs(F.col("err"))).cast("long").alias("sum_abs_err"),
            F.sum("err").cast("long").alias("sum_err"),
            F.sum(F.expr("abs(err) * 1000000 DIV actual")).cast("long")
            .alias("sum_ape_e6"),
        )
        .select(
            "event_type", "n_points", "sum_abs_err", "sum_err",
            F.expr("sum_abs_err * 1000000 DIV n_points").alias("mae_e6"),
            F.expr("sum_ape_e6 DIV n_points").alias("mape_e6"),
        )
    )


def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on each event type's daily count series
    dichotomised at its median: too FEW runs = trending/clustered, too
    MANY = oscillating — the randomness sanity check that neither
    `events_acf` (linear dependence only) nor `mann_kendall_trend`
    (monotone trend only) provides.

    Median-tied days are excluded (the standard treatment).  The
    dichotomy uses the exact interpolating median (percentile 0.5 ==
    DuckDB quantile_cont); runs are counted with one ordered lag pass.
    n1, n2, runs are BIGINT; E[R] = 2·n1·n2/(n1+n2) + 1 and Var[R]
    divide exact integer products, and z gets the 0.5 continuity
    correction — all 6 dp floor-rounded doubles of exact integers.

    Scale: bounded (type, day) grid; median + lag both ride the
    per-type partition.
    """
    ev = load_table(spark, sf_dir, "events")
    day = day_index("ts")
    daily = ev.groupBy("event_type", day.alias("d")).agg(
        F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("med"))
    marked = (
        daily.join(F.broadcast(med), "event_type")
        .where(F.col("n") != F.col("med"))
        .select("event_type", "d",
                (F.col("n") > F.col("med")).cast("int").alias("hi"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    runs = (
        marked.withColumn(
            "new_run",
            (F.coalesce(F.lag("hi").over(w), F.lit(-1)) != F.col("hi"))
            .cast("long"))
        .groupBy("event_type")
        .agg(
            F.sum("new_run").cast("long").alias("runs"),
            F.sum("hi").cast("long").alias("n1"),
            F.sum(F.lit(1) - F.col("hi")).cast("long").alias("n2"),
        )
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("runs")
    n = n1 + n2
    er = F.lit(2.0) * n1 * n2 / n + F.lit(1.0)
    # denominator goes through when(n > 1, ...) so the division is
    # NULL (not an ANSI error) on single-day series: codegen's
    # common-subexpression elimination hoists sqrt(vr) OUT of the CASE
    # branches, so the outer n <= 1 guard alone does not stop the
    # divide from evaluating (fuzz-found)
    vr = (F.lit(2.0) * n1 * n2 * (2 * n1 * n2 - n)
          / F.when(n > 1, n * n * (n - F.lit(1))))
    # the sqrt denominator itself is NULL-guarded for the same CSE
    # reason: with n1 or n2 = 0, vr = 0 and the hoisted division by
    # sqrt(0) errors under ANSI before any outer CASE can suppress it
    # vr = 0 also when n1 = n2 = 1 (2*n1*n2 - n = 0): guard vr > 0 so
    # the hoisted division never sees a zero sqrt
    sd = F.when((n1 > 0) & (n2 > 0) & (n > 1) & (vr > 0), F.sqrt(vr))
    z = F.when((n1 == 0) | (n2 == 0) | (n <= 1)
               | (2 * n1 * n2 == n), F.lit(None)).otherwise(
        F.when(r.cast("double") >= er,
               (r - er - F.lit(0.5)) / sd)
        .otherwise((r - er + F.lit(0.5)) / sd))
    return (
        runs.select(
            "event_type", "n1", "n2", "runs",
            half_up(z, 6).alias("z"),
        )
    )


def session_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition entropy of user journeys: for each event type,
    the Shannon entropy of its NEXT-event distribution inside sessions,
    plus the stationary-weighted entropy rate — how predictable the
    product's flows are (`order_status_flow` gives the raw transition
    matrix for orders; `events_session_bigrams` the top event bigrams;
    this reduces the matrix to the predictability number per state).

    Sessions are ``sessionize``'s (as in events_session_bigrams /
    session_path_topk).
    Exactness: transition counts are BIGINT; each term
    n_ft·ln(n_f/n_ft) is a smooth function of exact integers,
    floor-rounded to e6 PER CELL, summed exactly, divided by n_f —
    and the rate applies the same fold once more across states, so no
    double ever sums across partitions.
    """
    ev = load_table(spark, sf_dir, "events")
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id")
    trans = (
        sessionize(ev).withColumn("nxt", F.lead("event_type").over(ws))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"),
                 F.col("nxt").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ft"))
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    trans = scoped_persist(trans)
    per_from = (
        trans.withColumn(
            "n_f", F.sum("n_ft").over(
                Window.partitionBy("from_type")).cast("long"))
        .select(
            "from_type", "n_ft", "n_f",
            fixed(F.col("n_ft")
                  * F.log(F.col("n_f").cast("double") / F.col("n_ft")), 6)
            .alias("term_e6"),
        )
        .groupBy("from_type")
        .agg(
            F.max("n_f").alias("n_from"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_to"),
            F.expr("CAST(sum(term_e6) DIV max(n_f) AS BIGINT)")
            .alias("entropy_e6"),
        )
    )
    rate = per_from.agg(
        F.expr("CAST(sum(n_from * entropy_e6) DIV sum(n_from) AS BIGINT)")
        .alias("rate_e6"))
    return (
        per_from.crossJoin(F.broadcast(rate))
        .select("from_type",
                F.col("n_from").cast("long").alias("n_from"),
                "n_distinct_to", "entropy_e6", "rate_e6")
    )


def markov_absorption_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain analysis of user journeys: treating 'purchase'
    and session-end ('END') as absorbing states, the expected number of
    steps to absorption and the probability of absorbing in PURCHASE
    (vs just leaving) from every transient event type — the funnel
    summary a per-edge transition matrix (session_transition_entropy,
    order_status_flow) can't give directly, and the quantity CRO teams
    actually budget against ("a user at 'error' is 2.3 clicks from
    leaving and converts 8%").

    Semantics: the standard absorbing-chain fundamental-matrix
    quantities v = (I-Q)^-1·1 and b = (I-Q)^-1·R, computed by
    12 FIXED truncated value iterations v <- 1 + Q·v,
    p <- R_purchase + Q·p (exact for the tail the iteration reaches;
    both engines run the identical schedule, the LPA fixed-round
    precedent). Each iterate stays exact: v/p live in integer
    micro-units, every step is (sum of count*iterate products, in
    DECIMAL(38,0)/HUGEINT) with ONE truncating division by the state's
    out-count — no float anywhere.

    Scale shape: sessionisation is ``sessionize`` (one user-keyed
    window pass); ONE transition aggregation over the data; all
    12 iterations run on the |event_types|^2-bounded count
    matrix (metadata-sized at any corpus scale), localCheckpoint'ed
    per round like kmeans_centroids.
    """
    ev = load_table(spark, sf_dir, "events")
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id")
    trans = (
        sessionize(ev).withColumn(
            "nxt", F.coalesce(F.lead("event_type").over(ws),
                              F.lit("END")))
        .where(F.col("event_type") != "purchase")  # absorbing: no exits
        .groupBy(F.col("event_type").alias("from_type"),
                 F.col("nxt").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ft"))
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    trans = scoped_persist(trans)
    totals = trans.groupBy("from_type").agg(
        F.sum("n_ft").cast("long").alias("n_out"),
        F.sum(F.when(F.col("to_type") == "purchase", F.col("n_ft"))
              .otherwise(0)).cast("long").alias("n_to_purchase"),
    )
    state = totals.select(
        F.col("from_type").alias("s"),
        F.lit(0).cast("long").alias("v_e6"),
        F.lit(0).cast("long").alias("p_e6"),
    ).localCheckpoint()
    for _ in range(12):
        j = trans.join(F.broadcast(state),
                       trans["to_type"] == state["s"], "left")
        folded = (
            j.groupBy("from_type")
            .agg(
                F.expr("sum(CASE WHEN v_e6 IS NOT NULL THEN"
                       " CAST(n_ft AS DECIMAL(38,0)) * v_e6"
                       " ELSE 0 END)").alias("sv"),
                F.expr("sum(CASE WHEN to_type = 'purchase' THEN"
                       " CAST(n_ft AS DECIMAL(38,0)) * 1000000"
                       " WHEN p_e6 IS NOT NULL THEN"
                       " CAST(n_ft AS DECIMAL(38,0)) * p_e6"
                       " ELSE 0 END)").alias("sp"),
            )
            .join(totals, "from_type")
        )
        state = folded.select(
            F.col("from_type").alias("s"),
            F.expr("CAST(1000000 + sv DIV n_out AS BIGINT)").alias("v_e6"),
            F.expr("CAST(sp DIV n_out AS BIGINT)").alias("p_e6"),
        ).localCheckpoint()
    return (
        totals.join(state, totals["from_type"] == state["s"])
        .select(
            F.col("from_type").alias("state"), "n_out", "n_to_purchase",
            F.col("v_e6").alias("steps_to_absorb_e6"),
            F.col("p_e6").alias("p_purchase_e6"),
        )
    )


def events_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-adjusted anomaly detection: z-score the RESIDUALS of
    the seasonal-naive forecast (n_t − n_{t−7}) instead of the raw
    counts — `events_anomaly_zscore` flags every Saturday of a weekly-
    periodic series; differencing at the season removes that, so what
    survives is a genuine shock (the standard first step of any
    seasonal anomaly pipeline, and the diagnostic consumer of
    `forecast_backtest_snaive`'s residual stream).

    Exactness: residuals are exact BIGINT differences; mean and
    variance come from exact Σr, Σr² per type; the z-score divides
    exact integers ((r·n − Σr) / sqrt(n·Σr² − (Σr)²) rescaled by
    sqrt(n)), floor-rounded 6 dp; the flag compares in pure integers —
    (r·n − Σr)² · n  >  z_cut² · (n·Σr² − (Σr)²)  — so the boundary
    can't flip on float noise.

    Scale: bounded (type, day) grid self-join on exact day keys.
    """
    z_cut = 2
    ev = load_table(spark, sf_dir, "events")
    day = day_index("ts")
    daily = ev.groupBy("event_type", day.alias("d")).agg(
        F.count(F.lit(1)).alias("n"))
    from hadoop_mapreduce_spark.session import scoped_persist

    daily = scoped_persist(daily)
    a, b = daily.alias("a"), daily.alias("b")
    resid = (
        a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
               & (F.col("b.d") == F.col("a.d") - 7))
        .select(F.col("a.event_type").alias("event_type"),
                F.col("a.d").alias("d"),
                (F.col("a.n") - F.col("b.n")).alias("r"))
    )
    resid = scoped_persist(resid)
    stats = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sr2"),
    )
    num = F.col("r") * F.col("m") - F.col("sr")
    var_num = F.col("m") * F.col("sr2") - F.col("sr") * F.col("sr")
    z = (num.cast("double")
         / F.sqrt(var_num.cast("double") * F.col("m")))
    return (
        resid.join(F.broadcast(stats), "event_type")
        .select(
            "event_type", F.col("d").cast("long").alias("d"),
            F.col("r").cast("long").alias("residual"),
            F.when(var_num <= 0, F.lit(None).cast("double")).otherwise(
                half_up(z, 6))
            .alias("z"),
            F.when(var_num <= 0, F.lit(False)).otherwise(
                num * num * F.col("m")
                > F.lit(z_cut * z_cut) * var_num)
            .alias("is_anomaly"),
        )
    )


def dow_profile_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week day-of-week profile stability per event type: the
    cosine similarity between consecutive weeks' 7-day count vectors —
    is the weekly rhythm a stable property (safe to model/alert on) or
    week-to-week noise?  The STABILITY meta-question over the profile
    `events_dow_hour_profile` reports and `events_stl_seasonal`
    averages away.

    Exactness: week vectors are exact BIGINT counts; each consecutive-
    week dot product and both norms are exact integer sums (the 7-term
    fold never leaves int64); ONE double division + sqrt per week pair,
    floor-rounded 6 dp.

    Scale: bounded (type, week, dow) grid; the consecutive-week pairing
    is a grid self-join on exact integer week keys.
    """
    ev = load_table(spark, sf_dir, "events")
    # events all land on/after day 0, so truncating DIV == floor
    grid = ev.select("event_type", day_index("ts").alias("dd")).select(
        "event_type",
        F.expr("dd DIV 7").alias("wk"),
        (F.col("dd") % 7).alias("dow"),
    ).groupBy("event_type", "wk", "dow").agg(
        F.count(F.lit(1)).alias("n"))
    # Zero-padded 7-day vectors: FULL OUTER join the dow axis so a dow
    # present in only one of the two weeks contributes 0 to the dot
    # product but its count^2 still lands in that week's norm (an inner
    # join here would drop it from BOTH, inflating the cosine on sparse
    # weeks). A week pair is emitted iff both weeks have >=1 event.
    a = grid.select("event_type", "wk", "dow", F.col("n").alias("n_a"))
    b = grid.select("event_type", (F.col("wk") - 1).alias("wk"), "dow",
                    F.col("n").alias("n_b"))
    padded = a.join(b, ["event_type", "wk", "dow"], "full_outer").select(
        "event_type", "wk",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    pair = (
        padded.groupBy("event_type", "wk")
        .agg(
            F.sum(F.col("n_a") * F.col("n_b")).cast("long").alias("dot"),
            F.sum(F.col("n_a") * F.col("n_a")).cast("long").alias("na"),
            F.sum(F.col("n_b") * F.col("n_b")).cast("long").alias("nb"),
            F.sum(((F.col("n_a") > 0) & (F.col("n_b") > 0)).cast("long"))
            .cast("long").alias("n_shared_dows"),
        )
        .where((F.col("na") > 0) & (F.col("nb") > 0))
    )
    return (
        pair.select(
            "event_type",
            F.col("wk").cast("long").alias("wk"),
            "n_shared_dows", "dot", "na", "nb",
            half_up(F.col("dot").cast("double")
                    / F.sqrt(F.col("na").cast("double") * F.col("nb")), 6)
            .alias("cosine"),
        )
    )


def rolling_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day via MERGEABLE
    portable HyperLogLog registers (Flajolet et al. 2007) — the
    sliding-distinct shape that exact COUNT(DISTINCT) cannot sustain at
    scale: an exact 7-day rolling distinct re-touches seven days of raw
    keys for EVERY output day (7x read amplification, one giant
    distinct per day), while the sketch algebra here reduces each day
    ONCE to a 4096-register table and slides the window over registers
    (bucket-wise max — the HLL union) at metadata cost. Registers and
    estimator are the portable HLL of functions/portable.py, so the
    DuckDB oracle replays them exactly.

    The day axis is session-timezone-proof integer arithmetic
    (epoch_us // 86.4e9, the repo convention); the rolling merge is a
    RANGE window over the day INDEX (not row offsets), so calendar gaps
    inside the window are handled, and days a bucket never hit are
    materialised by a (days x 4096) grid — bounded by the CALENDAR, not
    the data. `exact_day_distinct` (per-day exact, one cheap rollup of
    the same deduped relation) rides along as the daily ground truth;
    the rolling estimate's accuracy is pinned by tests at ±2% (m=4096
    => ~1.6% standard error).

    100 TB shape: one (day, user) distinct exchange (partial-agg
    collapses map-side), one register rollup to n_days x 4096 rows,
    then windows over register/calendar-sized relations only.
    """
    from hadoop_mapreduce_spark.functions.portable import (
        HLL_M,
        hll_estimate_col,
        hll_partials,
        hll_rho,
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    window_days = 7
    ev = load_table(spark, sf_dir, "events")
    day = (wall_epoch_us("ts") / F.lit(86_400_000_000)).cast("long")
    # distinct BEFORE hashing: registers are max-aggregates, duplicate
    # (day, user) occurrences cannot change any register (the
    # hll_portable_union argument), and the distinct's partial agg
    # collapses the exchange map-side.
    du = scoped_persist(
        ev.select(day.alias("day"), "user_id").distinct())

    exact = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("exact_day_distinct"))
    rb = hll_rho(du, ["day"], F.col("user_id").cast("string"))
    regs = rb.groupBy("day", "bucket").agg(F.max("rho").alias("r"))

    days = du.select("day").distinct()
    # present-day coverage of each window: a 30-row (calendar-bounded)
    # relation, so the unpartitioned window is NOT a scale hazard
    wd = days.select(
        "day",
        F.count(F.lit(1)).over(
            Window.orderBy("day").rangeBetween(-(window_days - 1), 0))
        .cast("long").alias("n_days_window"),
    )
    buckets = spark.range(0, HLL_M).select(
        F.col("id").cast("long").alias("bucket"))
    grid = days.crossJoin(buckets).join(regs, ["day", "bucket"], "left")
    rolled = grid.select(
        "day", "bucket",
        F.max("r").over(
            Window.partitionBy("bucket").orderBy("day")
            .rangeBetween(-(window_days - 1), 0)).alias("r"),
    )
    est = rolled.groupBy("day").agg(*hll_partials())
    return (
        est.join(wd, "day").join(exact, "day")
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"),
                       F.col("day").cast("int")).cast("string").alias("day"),
            "n_days_window",
            F.col("n_hit").cast("long").alias("n_buckets_hit"),
            hll_estimate_col().alias("est_rolling_distinct"),
            "exact_day_distinct",
        )
    )


def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014 — the
    data-driven alternative to last-touch/linear credit): model user
    journeys as a first-order chain with a synthetic START state,
    'purchase' and session-end (END) absorbing; a channel's credit is
    its REMOVAL EFFECT — how much the START->purchase absorption
    probability drops when every transition INTO the channel is
    redirected to END (the journey dies where the channel would have
    been). Credits are normalised to attribution shares. This is the
    principled counterpart of `conversion_attribution` /
    `attribution_linear_credit`: position rules credit whoever showed
    up; removal credits channels the conversions that would NOT have
    happened without them.

    Exactness: the |scenarios| x |states|^2 matrix (scenarios = NONE +
    one per transient channel) is metadata-sized, and the absorption
    probability is computed by 12 FIXED truncated value
    iterations p <- (R + Q·p)/n_out in integer micro-units with
    DECIMAL(38,0)/HUGEINT products — the exact machinery of
    `markov_absorption_steps`, crossed with the scenario dimension so
    ALL removal worlds run in one plan. Removal can only destroy
    conversion paths, so p_removed <= p_base holds by construction.

    Scale shape: ``sessionize`` (one window pass) + ONE transition
    aggregation over the data; everything after — the scenario cross,
    the 12 iterations, the share normalisation — runs on the
    channel-bounded matrix, localCheckpoint'ed per round.
    """
    ev = load_table(spark, sf_dir, "events")
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id")
    body = (
        sessionize(ev).withColumn(
            "nxt", F.coalesce(F.lead("event_type").over(ws),
                              F.lit("END")))
        .withColumn("rn", F.row_number().over(ws))
    )
    trans = (
        body.where(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("from_type"),
                F.col("nxt").alias("to_type"))
        .unionAll(
            body.where(F.col("rn") == 1)
            .select(F.lit("START").alias("from_type"),
                    F.col("event_type").alias("to_type")))
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ft"))
    )
    from hadoop_mapreduce_spark.session import scoped_persist

    trans = scoped_persist(trans)
    channels = trans.where(F.col("from_type") != "START") \
        .select(F.col("from_type").alias("scenario")).distinct()
    scenarios = channels.unionAll(
        spark.createDataFrame([("NONE",)], "scenario string"))
    # one rewritten matrix per removal world: drop the removed state's
    # own rows, redirect transitions INTO it to END, re-aggregate (a
    # redirect can merge with an existing ->END row)
    atn = scoped_persist(
        trans.crossJoin(F.broadcast(scenarios))
        .where(F.col("from_type") != F.col("scenario"))
        .select(
            "scenario", "from_type",
            F.when(F.col("to_type") == F.col("scenario"), F.lit("END"))
            .otherwise(F.col("to_type")).alias("to_type"),
            "n_ft",
        )
        .groupBy("scenario", "from_type", "to_type")
        .agg(F.sum("n_ft").cast("long").alias("n_ft")))
    totals = atn.groupBy("scenario", "from_type").agg(
        F.sum("n_ft").cast("long").alias("n_out"))
    state = totals.select(
        F.col("scenario").alias("st_scn"),
        F.col("from_type").alias("st_s"),
        F.lit(0).cast("long").alias("p_e6")).localCheckpoint()
    for _ in range(12):
        j = atn.join(
            F.broadcast(state),
            (F.col("scenario") == F.col("st_scn"))
            & (F.col("to_type") == F.col("st_s")), "left")
        state = (
            j.groupBy("scenario", "from_type")
            .agg(F.expr(
                "sum(CASE WHEN to_type = 'purchase' THEN"
                " CAST(n_ft AS DECIMAL(38,0)) * 1000000"
                " WHEN p_e6 IS NOT NULL THEN"
                " CAST(n_ft AS DECIMAL(38,0)) * p_e6"
                " ELSE 0 END)").alias("sp"))
            .join(totals, ["scenario", "from_type"])
            .select(F.col("scenario").alias("st_scn"),
                    F.col("from_type").alias("st_s"),
                    F.expr("CAST(sp DIV n_out AS BIGINT)").alias("p_e6"))
        ).localCheckpoint()
    starts = state.select(
        F.col("st_scn").alias("scenario"), F.col("st_s").alias("s"),
        "p_e6").where(F.col("s") == "START")
    base = starts.where(F.col("scenario") == "NONE") \
        .select(F.col("p_e6").alias("p_base_e6"))
    eff = (
        starts.where(F.col("scenario") != "NONE")
        .select(F.col("scenario").alias("channel"),
                F.col("p_e6").alias("p_removed_e6"))
        .crossJoin(F.broadcast(base))
        .select(
            "channel", "p_base_e6", "p_removed_e6",
            F.expr("CASE WHEN p_base_e6 > 0 THEN"
                   " CAST((p_base_e6 - p_removed_e6)"
                   " * CAST(1000000 AS DECIMAL(38,0))"
                   " DIV p_base_e6 AS BIGINT) ELSE 0 END")
            .alias("removal_effect_e6"),
        )
    )
    tot = eff.agg(F.sum("removal_effect_e6").cast("long").alias("te"))
    return (
        eff.crossJoin(F.broadcast(tot))
        .select(
            "channel", "p_base_e6", "p_removed_e6", "removal_effect_e6",
            F.expr("CASE WHEN te > 0 THEN CAST(removal_effect_e6"
                   " * CAST(1000000 AS DECIMAL(38,0))"
                   " DIV te AS BIGINT) ELSE 0 END")
            .alias("attribution_share_e6"),
        )
    )


def events_burst_kleinberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg two-state burst detection (Kleinberg 2002, "Bursty
    and Hierarchical Structure in Streams" — the batch automaton) over
    each event type's daily share of total traffic: state q0 emits the
    type's global rate p0 = R/D, the burst state q1 emits p1 =
    min(2*p0, 0.99); day t in state q costs the binomial negative
    log-likelihood -(r*ln(p_q) + (n-r)*ln(1-p_q)), entering the burst
    state costs gamma*ln(T); the emitted labels are the MINIMUM-COST
    (Viterbi) state path. Unlike the threshold detectors
    (`events_anomaly_zscore`/`_mad`, `events_cusum_changepoint`) the
    automaton prices burst ENTRY, so isolated one-day spikes don't
    flap the label — the property that made it the canonical stream-
    burst model.

    Determinism: per-day state costs are floor-rounded to e6 BIGINTs
    FIRST (one ln+multiply chain per (type, day, state), identical
    operation order both engines), so the entire DP — forward min-plus
    recursion with from-pointers, then the backtrace — is EXACT
    integer arithmetic with a fixed tie rule (<= prefers the baseline
    state). The oracle replays both passes as lockstep recursive CTEs
    over the step index. BIGINT bound: cumulative cost <
    T * (r_day * ln-range) * 1e6 — comfortable through petabyte-scale
    daily counts (~2e11 events/day headroom).

    Scale: the stream collapses to a (days x types) grid (calendar x
    catalog bounded — zero-days materialised so gaps can end bursts);
    each type's series folds with two higher-order aggregate lambdas
    (forward DP, backtrace), the events_holt_linear machinery.
    """
    ev = load_table(spark, sf_dir, "events")
    day = (wall_epoch_us("ts") / F.lit(86_400_000_000)).cast("long")
    base = ev.select("event_type", day.alias("d"))
    from hadoop_mapreduce_spark.session import scoped_persist

    counts = scoped_persist(
        base.groupBy("event_type", "d").agg(
            F.count(F.lit(1)).cast("long").alias("r")))
    per_day = counts.groupBy("d").agg(
        F.sum("r").cast("long").alias("n"))
    types = counts.select("event_type").distinct()
    tot = counts.groupBy("event_type").agg(
        F.sum("r").cast("long").alias("rr"))
    dd = per_day.agg(F.sum("n").cast("long").alias("dd"))
    grid = (
        per_day.crossJoin(F.broadcast(types))
        .join(counts, ["event_type", "d"], "left")
        .join(F.broadcast(tot), "event_type")
        .crossJoin(F.broadcast(dd))
        .select("event_type", "d", F.coalesce("r", F.lit(0)).alias("r"),
                "n", "rr", "dd")
    )
    # per-day state costs as exact e6 BIGINTs; p0/p1 pinned expressions
    p0 = "least(CAST(rr AS DOUBLE) / CAST(dd AS DOUBLE), 0.98)"
    p1 = f"least(2.0 * ({p0}), 0.99)"
    cost = fixed_sql("-(CAST(r AS DOUBLE) * ln({p})"
                     " + CAST(n - r AS DOUBLE) * ln(1.0 - ({p})))", 6)
    costed = grid.select(
        "event_type", "d", "r", "n",
        F.expr(cost.format(p=p0)).alias("c0s"),
        F.expr(cost.format(p=p1)).alias("c1s"),
    )
    arr = costed.groupBy("event_type").agg(
        F.sort_array(F.collect_list(
            F.struct("d", "r", "n", "c0s", "c1s"))).alias("xs"))
    tau = fixed_sql("ln(CAST(size(xs) AS DOUBLE))", 6)
    c0n = (f"CASE WHEN acc.k = 0 THEN x.c0s"
           f" ELSE x.c0s + least(acc.c0, acc.c1) END")
    c1n = (f"CASE WHEN acc.k = 0 THEN x.c1s + {tau}"
           f" ELSE x.c1s + least(acc.c0 + {tau}, acc.c1) END")
    f0n = ("CASE WHEN acc.k = 0 OR acc.c0 <= acc.c1"
           " THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END")
    f1n = (f"CASE WHEN acc.k = 0 OR acc.c0 + {tau} <= acc.c1"
           f" THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END")
    fwd = f"""
      aggregate(xs,
        named_struct(
          'out', CAST(array() AS ARRAY<STRUCT<d BIGINT, r BIGINT,
                 n BIGINT, c0 BIGINT, c1 BIGINT, f0 BIGINT, f1 BIGINT>>),
          'c0', CAST(0 AS BIGINT), 'c1', CAST(0 AS BIGINT), 'k', 0),
        (acc, x) -> named_struct(
          'out', array_append(acc.out, named_struct(
            'd', x.d, 'r', x.r, 'n', x.n,
            'c0', {c0n}, 'c1', {c1n}, 'f0', {f0n}, 'f1', {f1n})),
          'c0', {c0n}, 'c1', {c1n}, 'k', acc.k + 1),
        acc -> acc.out)
    """
    st = ("CASE WHEN acc.k = 0 THEN (CASE WHEN x.c1 < x.c0"
          " THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
          " WHEN acc.st = 0 THEN acc.pf0 ELSE acc.pf1 END")
    bwd = f"""
      aggregate(reverse(fw),
        named_struct(
          'out', CAST(array() AS ARRAY<STRUCT<d BIGINT, r BIGINT,
                 n BIGINT, c0 BIGINT, c1 BIGINT, s BIGINT>>),
          'st', CAST(0 AS BIGINT), 'pf0', CAST(0 AS BIGINT),
          'pf1', CAST(0 AS BIGINT), 'k', 0),
        (acc, x) -> named_struct(
          'out', array_append(acc.out, named_struct(
            'd', x.d, 'r', x.r, 'n', x.n, 'c0', x.c0, 'c1', x.c1,
            's', {st})),
          'st', {st}, 'pf0', x.f0, 'pf1', x.f1, 'k', acc.k + 1),
        acc -> acc.out)
    """
    return (
        arr.select("event_type", F.expr(fwd).alias("fw"))
        .select("event_type", F.explode(F.expr(bwd)).alias("z"))
        .select(
            "event_type",
            F.date_add(F.lit("1970-01-01").cast("date"),
                       F.col("z.d").cast("int")).cast("string")
            .alias("day"),
            F.col("z.r").alias("n_type_events"),
            F.col("z.n").alias("n_day_events"),
            F.col("z.s").alias("burst"),
            F.col("z.c0").alias("cum_cost0_e6"),
            F.col("z.c1").alias("cum_cost1_e6"),
        )
    )


# r8w: literal 0.5^(gap_days/7) half-life weights in micro-units,
# generated ONCE in Python for gaps 0..30 and embedded identically in
# the Spark plan and the DuckDB oracle (the JL_SIGNS/HLL_ALPHA shared-
# literal convention — neither engine raises a float to a fractional
# power at runtime).
ATTR_DECAY_HALF_LIFE_DAYS = 7
ATTR_DECAY_MAX_GAP = 30
ATTR_DECAY_W_E6 = [
    int(round(0.5 ** (g / ATTR_DECAY_HALF_LIFE_DAYS) * 1_000_000))
    for g in range(ATTR_DECAY_MAX_GAP + 1)
]


def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (the fourth member of the
    attribution family: `conversion_attribution` last-touch,
    `attribution_linear_credit` equal-split, `markov_attribution_removal`
    counterfactual — this is the recency-weighted industry default):
    every non-purchase touch before a user's FIRST purchase earns
    weight 0.5^(gap_days/7) (7-day half-life), each conversion's
    credit normalises to 1e6 micro-units across its own touches, and
    credits roll up per channel (event type). Weights come from a
    31-entry LITERAL table generated once in Python — no runtime
    fractional pow on either engine — joined by integer day gap
    (gaps beyond 30 days clamp to the table tail).

    Exactness: per-touch credit = w_gap * 1e6 DIV sum(w over the
    conversion's touches), exact truncating integers; the per-channel
    rollup sums BIGINTs.

    Scale: one groupBy(user) pass finds first-purchase days, one
    broadcast of the 31-row weight table, one user-keyed join of
    touches to their conversion day, one channel rollup.
    """
    from hadoop_mapreduce_spark.session import scoped_persist

    ev = load_table(spark, sf_dir, "events")
    day = (wall_epoch_us("ts") / F.lit(86_400_000_000)).cast("long")
    base = scoped_persist(ev.select(
        "user_id", F.col("event_type").alias("channel"),
        day.alias("d")))
    conv = base.where(F.col("channel") == "purchase") \
        .groupBy("user_id").agg(F.min("d").alias("conv_day"))
    wtab = spark.createDataFrame(
        [(g, w) for g, w in enumerate(ATTR_DECAY_W_E6)],
        "gap long, w_e6 long")
    touches = (
        base.where(F.col("channel") != "purchase")
        .join(conv, "user_id")
        .where(F.col("d") <= F.col("conv_day"))
        .select(
            "user_id", "channel",
            F.least(F.col("conv_day") - F.col("d"),
                    F.lit(ATTR_DECAY_MAX_GAP)).alias("gap"),
        )
        .join(F.broadcast(wtab), "gap")
    )
    per_conv = touches.groupBy("user_id").agg(
        F.sum("w_e6").cast("long").alias("tw"))
    credited = (
        touches.join(per_conv, "user_id")
        .select(
            "channel",
            F.expr("CAST(w_e6 * CAST(1000000 AS DECIMAL(38,0))"
                   " DIV tw AS BIGINT)").alias("credit_e6"),
        )
    )
    total = credited.agg(
        F.sum("credit_e6").cast("long").alias("all_credit"))
    return (
        credited.groupBy("channel")
        .agg(F.count(F.lit(1)).cast("long").alias("n_touches"),
             F.sum("credit_e6").cast("long").alias("credit_e6"))
        .crossJoin(F.broadcast(total))
        .select(
            "channel", "n_touches", "credit_e6",
            F.expr("CAST(credit_e6 * CAST(1000000 AS DECIMAL(38,0))"
                   " DIV all_credit AS BIGINT)").alias("share_e6"),
        )
    )
