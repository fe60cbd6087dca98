"""Batch sessionization over the events stream table.

Complements ``streaming/stateful.py``'s stateful
``applyInPandasWithState`` sessionization with the batch equivalent: the
classic gap-based session-window assignment expressed as pure window
algebra (lag → new-session flag → running sum), so Catalyst plans it as
one sort per user partition with no Python in the path.

Scale notes:
- Both windows partition by ``user_id``: one hash shuffle total (the sort
  for ``lag`` is reused by the running sum — same partitioning + ordering,
  Spark plans a single Exchange+Sort).
- Hot users (sessions are per-user, users are many) give uniform keys;
  no skew handling needed beyond AQE.
- Event times are compared in exact int64 microseconds (``unix_micros``)
  and per-session value sums use DECIMAL(18,2) so results are bit-stable
  across engines and partitionings (double summation is order-dependent;
  decimal is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_MINUTES = 30


def sessionize_events(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_minutes: int = DEFAULT_GAP_MINUTES,
) -> DataFrame:
    """Assign a session id to every event: a new session starts when the
    gap to the user's previous event exceeds ``gap_minutes``.

    Returns the input rows plus (ts_us, session_idx, session_id).
    """
    gap_us = int(gap_minutes) * 60_000_000
    w = Window.partitionBy(user_col).orderBy("ts_us", order_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_flag = (
        F.col("_prev_us").isNull()
        | ((F.col("ts_us") - F.col("_prev_us")) > F.lit(gap_us))
    ).cast("int")
    return (
        # parquet event times arrive TIMESTAMP_NTZ; unix_micros needs
        # TIMESTAMP (session tz is UTC, matching DuckDB's epoch_us on naive)
        events.withColumn("ts_us", F.unix_micros(F.col(ts_col).cast("timestamp")))
        .withColumn("_prev_us", F.lag("ts_us").over(w))
        .withColumn("_new", new_flag)
        .withColumn("session_idx", F.sum("_new").over(run))
        .withColumn(
            "session_id",
            F.concat_ws("-", F.col(user_col).cast("string"), F.col("session_idx").cast("string")),
        )
        .drop("_prev_us", "_new")
    )


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = DEFAULT_GAP_MINUTES,
) -> DataFrame:
    """One row per session: bounds (exact int64 micros), event count,
    duration, and the DECIMAL-exact value total (cast back to double for
    the stable output schema)."""
    sess = sessionize_events(events, user_col=user_col, ts_col=ts_col, gap_minutes=gap_minutes)
    return (
        sess.withColumn("_val", F.col(value_col).cast("decimal(18,2)"))
        .groupBy(user_col, "session_id")
        .agg(
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
            F.count("*").alias("n_events"),
            F.sum("_val").cast("double").alias("total_value"),
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
    )
