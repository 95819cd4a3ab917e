"""Session-timezone-proof wall-clock arithmetic.

The engine's timestamp contract (``sources.tables._normalize_ntz``):
every loaded timestamp column is TIMESTAMP_NTZ — civil time exactly as
stored in the parquet file, the same view DuckDB's naive TIMESTAMP takes.

That contract only pays off if no downstream expression routes through
the session timezone again. The classic trap is
``unix_micros(ntz_col.cast("timestamp"))``: the NTZ→LTZ cast interprets
the wall clock in ``spark.sql.session.timeZone`` — correct under the
repo's pinned-UTC sessions, silently shifted under the caller-owned
driver session (observed: CORRECTNESS_r07 hash mismatch; reproduced by
tools/tz_parity.py on 6 queries). The helpers here stay inside pure NTZ
integer arithmetic, valid under ANY session timezone:

* ``wall_epoch_us(c)``  — microseconds since 1970-01-01 00:00:00 (wall),
  == DuckDB ``epoch_us(ts)``.
* ``wall_epoch_secs(c)`` — whole seconds (floored), == DuckDB
  ``epoch(ts)::BIGINT`` for post-1970 data and == the truncation Spark's
  ``unix_timestamp`` applies.

Two definitions built on that arithmetic live here once, each with the
SQL twin the DuckDB oracles splice in:

* the day index — whole days from ``DAY_ZERO`` to an event's wall date
  (``day_index`` / ``day_index_sql``) and back (``index_date`` /
  ``index_date_sql``);
* the user session — ``sessionize(ev)`` / ``SESSIONIZED_SQL``: a gap of
  more than ``SESSION_GAP_US`` between a user's consecutive events
  starts a new session, the rule Spark's session windows apply
  (the streams in streaming/windows.py keep them, with the same gap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# SQL literal for the NTZ epoch — usable inside F.expr strings.
EPOCH_NTZ_SQL = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _epoch_ntz() -> Column:
    return F.expr(EPOCH_NTZ_SQL)


def wall_epoch_us(c: Column | str) -> Column:
    """Wall-clock microseconds since epoch for a TIMESTAMP_NTZ column.

    ``timestamp_diff`` between two NTZ values is pure integer
    arithmetic — no session-timezone resolution anywhere in the plan.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.timestamp_diff("MICROSECOND", _epoch_ntz(), col)


def wall_epoch_secs(c: Column | str) -> Column:
    """Whole wall-clock seconds since epoch (floored; fixtures are all
    post-1970 so truncating DIV == floor)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.timestamp_diff("SECOND", _epoch_ntz(), col)


# Day 0 of the events' day index (a Monday, so index % 7 is Monday=0).
DAY_ZERO = "2024-01-01"


def day_index(c: Column | str) -> Column:
    """Whole days from DAY_ZERO to the wall date of TIMESTAMP_NTZ ``c``."""
    col = F.col(c) if isinstance(c, str) else c
    return F.datediff(col.cast("date"), F.lit(DAY_ZERO).cast("date"))


def day_index_sql(c: str) -> str:
    """DuckDB twin of ``day_index``."""
    return f"date_diff('day', DATE '{DAY_ZERO}', {c}::DATE)"


def index_date(d: Column) -> Column:
    """The date of day index ``d`` (int): the inverse of ``day_index``."""
    return F.date_add(F.lit(DAY_ZERO).cast("date"), d)


def index_date_sql(d: str) -> str:
    """DuckDB twin of ``index_date`` (``d`` an INTEGER expression)."""
    return f"(DATE '{DAY_ZERO}' + to_days({d}))"


# A user's next event starts a new session when it comes more than this
# long after the previous one; a gap of exactly 30:00 continues it.
SESSION_GAP_MINUTES = 30
SESSION_GAP_US = SESSION_GAP_MINUTES * 60 * 1_000_000


def sessionize(ev: DataFrame) -> DataFrame:
    """``ev``'s columns plus ``session_id``: per user, in (ts, event_id)
    order, the number of gaps so far longer than SESSION_GAP_US (exact
    wall-clock microseconds). The first event's NULL gap is no break, so
    every user's ids count up from 0. One user-keyed window pass."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    brk = F.coalesce(gap, F.lit(0)) > SESSION_GAP_US
    # a window function can't nest in another: the break flag first,
    # then its running sum
    return (ev.withColumn("session_id", brk.cast("long"))
            .withColumn("session_id", F.sum("session_id").over(w)))


# sessionized: the events' columns plus session_id, sessionize()'s twin.
SESSIONIZED_SQL = f"""sessionized AS (
  SELECT * EXCLUDE (brk),
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM (
    SELECT *,
      (coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id), 0)
       > {SESSION_GAP_US})::INTEGER AS brk
    FROM events
  )
)"""
