"""Structured Streaming surface (SURVEY.md §2.EXT: streaming row).

The batch twins in operators/timeseries.py define the semantics (and are
the oracle-checked versions — `F.window`/`F.session_window` evaluate
identically in both modes). This module provides the actual readStream
pipelines: watermarks for late-data handling, windowed/sessionized
aggregation, streaming dedup, and a stateful custom operator via
applyInPandasWithState. Smoke-tested with the file source over the
events fixture re-written as JSON (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

# How late an event may arrive before the watermarked operators below
# drop it and evict the state it would update.
WATERMARK = "2 hours"

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source event stream (one JSON file per micro-batch). On a real
    cluster this would be Kafka (`format("kafka")`) — everything
    downstream is source-agnostic."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling-window counts: events later than the
    watermark are dropped, state for closed windows is evicted — bounded
    state at any scale."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Watermarked session windows per user, closed by a 30-minute gap
    (same expression as the batch twin
    operators/timeseries.py::events_session)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events", "session_value")
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Exactly-once-style dedup on event_id within the watermark horizon —
    dropDuplicates keeps first-seen; state evicted past the watermark."""
    return events.withWatermark("ts", WATERMARK).dropDuplicates(["event_id"])


def streaming_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """The Spark 3.5+ dropDuplicatesWithinWatermark variant: the dedup
    key does NOT need to include the event-time column, and state for a
    key is evicted `WATERMARK` after the key was FIRST seen (classic
    dropDuplicates on a watermarked stream keys state eviction off the
    event-time column value instead, so retried events with slightly
    different timestamps are NOT collapsed). This is the semantics an
    at-least-once upstream (Kafka producer retries, replayed micro-
    batches) actually needs: duplicates carry the same id but jittered
    timestamps, and they still collapse as long as they arrive within
    the horizon."""
    return events.withWatermark("ts", WATERMARK) \
        .dropDuplicatesWithinWatermark(["event_id"])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    applyInPandasWithState — the escape hatch for semantics windowed
    aggregation can't express (here: monotone cumulative state across
    all micro-batches)."""
    import pandas as pd  # noqa: F401 (imported for the UDF body)
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def run_to_memory_sink(stream_df: DataFrame, name: str, spark: SparkSession) -> DataFrame:
    """Drain a (file-source) stream into an in-memory table for testing;
    returns the materialised result as a batch DataFrame."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def enrich_with_dim(stream: DataFrame, dim: DataFrame, stream_key: str, dim_key: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (batch) dimension table. Spark plans this as a broadcast hash join
    per micro-batch — no stream state, no watermark needed; the dim can
    be refreshed between restarts. The canonical pattern for decorating
    an event stream with slowly-changing reference data."""
    return stream.join(F.broadcast(dim), stream[stream_key] == dim[dim_key], "left")


def write_stream_foreach_batch(stream: DataFrame, path: str):
    """foreachBatch parquet sink: each micro-batch lands as an append
    stamped with its batch_id. foreachBatch is the streaming escape hatch
    for sinks Spark lacks a native connector for (JDBC upserts, custom
    stores); batch_id makes redelivery idempotent-checkable downstream
    (exactly-once = at-least-once delivery + idempotent write keyed on
    batch_id)."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(path)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_interval_join(left: DataFrame,
                                right: DataFrame) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each left event pairs with right events of the SAME user whose
    timestamp falls in [left.ts - 10 minutes, left.ts] — the streaming form
    of the as-of/range join (click ↔ preceding impressions, trade ↔
    quote window).

    Both sides carry watermarks and the join condition bounds event time
    in BOTH directions, so Spark can evict buffered state for rows past
    (watermark + interval) — without the time bound a stream-stream join
    must buffer both streams forever. That state bound is what makes
    this runnable on an unbounded feed; tests assert the joined output
    equals the batch join over the same files.
    """
    l = left.withWatermark("ts", WATERMARK).alias("l")
    r = right.withWatermark("ts", WATERMARK).alias("r")
    cond = F.expr(
        "l.user_id = r.user_id AND "
        "r.ts BETWEEN l.ts - interval 10 minutes AND l.ts"
    )
    return l.join(r, cond, "inner").select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )


def stream_changes_into_snapshots(changes_stream: DataFrame, root: str,
                                  key: str):
    """Streaming CDC apply: each micro-batch of keyed changes MERGEs into
    the latest versioned snapshot and commits as the next version
    (sources/snapshots.py) — the streaming half of the lakehouse story:
    an unbounded change feed continuously folding into a time-travelable
    table.

    foreachBatch is the right primitive: the merge is a batch plan per
    micro-batch (AQE broadcasts the small change side), and the
    batch_id-monotone version chain makes redelivery detectable — a
    replayed batch writes a NEW version rather than corrupting the last
    one, so recovery is "roll back to the version before the dup", never
    a rewrite. Empty micro-batches commit nothing.
    """
    from hadoop_mapreduce_spark.sources.snapshots import apply_changes

    def merge_batch(df: DataFrame, batch_id: int) -> None:
        if not df.isEmpty():
            apply_changes(df.sparkSession, root, df, key)

    return (
        changes_stream.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals via transformWithStateInPandas — Spark 4's
    arbitrary-state API (the successor to applyInPandasWithState, with
    typed state handles, optional per-state TTL, and timers).

    Same semantics as running_user_totals above, expressed as a
    StatefulProcessor with a ValueState handle — the two operators are
    differential twins and tests assert identical drained output. The
    ttlDurationMs hook on getValueState is where an unbounded keyspace
    (e.g. per-session rather than per-user state) gets bounded; unset
    here because user totals are deliberately monotone over the run.

    ENVIRONMENT GATE: the TWS python driver-worker requires the
    `google.protobuf` package (its state-server protocol is protobuf);
    containers without it would fail at query start with an opaque
    async STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE — so this
    operator probes the import UP FRONT and raises a clear RuntimeError
    instead. The differential test asserts the full stream==batch
    equivalence where protobuf exists and asserts THIS contract error
    where it doesn't (no skip either way); running_user_totals
    (applyInPandasWithState, no protobuf dependency) remains the
    fully-tested stateful path everywhere. Requires the RocksDB state
    store provider (spark.sql.streaming.stateStore.providerClass).
    """
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError as e:
        raise RuntimeError(
            "transformWithStateInPandas requires the google.protobuf "
            "package (TWS state-server protocol); install protobuf or "
            "use running_user_totals (applyInPandasWithState) — same "
            "semantics, no protobuf dependency") from e
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timer_values):
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]})

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        "user_id long, n_events long, total_value double",
        "Update",
        "None",
    )


def stream_decontaminate(doc_stream: DataFrame,
                         bitmap_map: DataFrame) -> DataFrame:
    """Streaming benchmark decontamination: incoming documents are
    flagged against a STATIC Bloom bitmap (built batch-side from the
    benchmark suites by ``functions.portable.bloom_bitmap``) via a
    stream-static crossJoin of the one-row map. The stream side is a
    pure projection (the same exists() probe as the batch operator), so
    this is a stateless streaming stage: no watermark, no state store,
    arbitrarily long-running.

    This is the deployment shape decontamination actually wants: the
    benchmark bitmap changes rarely (re-broadcast per restart), while
    documents arrive forever; flagged docs route to quarantine via the
    sink's partition column rather than being dropped silently.

    The bitmap is ``bloom_decontaminate``'s: benchmark
    ``BENCH_BLOOM_N``-grams in a ``BENCH_BLOOM_BITS``-bit filter.
    """
    from hadoop_mapreduce_spark.functions.portable import (
        BENCH_BLOOM_BITS,
        BENCH_BLOOM_N,
        bloom_any,
    )
    from hadoop_mapreduce_spark.functions.text import (
        ngrams_from_tokens,
        normalize_text,
        tokenize,
    )

    toks = doc_stream.withColumn(
        "__t", tokenize(normalize_text(F.col("text"))))
    return (
        toks.crossJoin(F.broadcast(bitmap_map))
        .select(
            "doc_id", "source", "text",
            bloom_any(F.array_distinct(
                ngrams_from_tokens(F.col("__t"), BENCH_BLOOM_N)),
                F.col("bm"), BENCH_BLOOM_BITS).alias("contaminated"))
    )
