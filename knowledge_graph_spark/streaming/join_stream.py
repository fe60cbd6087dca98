"""Watermarked stream-stream join: purchase→signup attribution.

The canonical Structured-Streaming join shape (Spark docs "Stream-Stream
Joins"): two unbounded inputs joined on a key PLUS an event-time range,
with watermarks on both sides so the state store can evict rows that can
no longer match.  Without the time bound + watermarks Spark must buffer
both streams forever; with them, state is bounded by
(watermark + window) of recent rows per side — the property that
survives 10^12 events.

Here: each purchase joins the signups of the same user that happened at
most ``window_days`` before it — attribution/conversion analytics over
the events stream.  The inner join emits exactly the rows the BATCH join
with the same predicate produces for on-time data (asserted in
tests/test_join_stream.py by draining with availableNow and comparing
row sets against the batch join).

Sink: parquet append (exactly-once via the sink's own checkpointed file
manifest — the standard file-sink guarantee; an append-only inner join
needs no versioned commit, so only the file sources come from
``streaming/commit.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit

PURCHASE_DDL = "event_id bigint, user_id bigint, ts timestamp, value double"
SIGNUP_DDL = "signup_id bigint, user_id bigint, ts timestamp"


def attribution_join(
    purchases: DataFrame,
    signups: DataFrame,
    window_days: int = 7,
    watermark: str = "1 hour",
) -> DataFrame:
    """The join plan, usable for BOTH batch and streaming inputs (the
    watermark is a no-op on batch frames): purchases ⋈ signups on
    user_id with signup.ts <= purchase.ts <= signup.ts + window."""
    p = purchases.withWatermark("ts", watermark).alias("p")
    s = signups.withWatermark("ts", watermark).alias("s")
    return p.join(
        s,
        F.expr(
            f"""p.user_id = s.user_id
                AND p.ts >= s.ts
                AND p.ts <= s.ts + interval {window_days} days"""
        ),
    ).select(
        F.col("p.event_id").alias("event_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("s.signup_id").alias("signup_id"),
        F.unix_micros(F.col("p.ts").cast("timestamp")).alias("purchase_us"),
        F.unix_micros(F.col("s.ts").cast("timestamp")).alias("signup_us"),
        F.col("p.value").alias("value"),
    )


def run_attribution_stream(
    spark: SparkSession,
    purchases_dir: str,
    signups_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_days: int = 7,
) -> None:
    """Drain the streaming join over every file present now, appending
    matches to a parquet sink."""
    j = attribution_join(
        commit.file_stream(spark, PURCHASE_DDL, purchases_dir),
        commit.file_stream(spark, SIGNUP_DDL, signups_dir),
        window_days=window_days,
    )
    (
        j.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
