"""Temporal operators: tumbling-window rollups and the KG version diff.

- ``window_rollup`` is a plain groupBy on (bucket, event_type): map-side
  partial aggregation applies; one shuffle.
- ``kg_version_diff`` is one full-outer join on the edge key; the CDC
  sink writes each fold's changelog from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def window_rollup(
    events: DataFrame,
    width: str = "1 hour",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window aggregate: (window_start_us, event_type, n_events,
    total_value).  Buckets align to the epoch origin (UTC), matching
    DuckDB's time_bucket; value sums are DECIMAL-exact then cast back to
    double for a stable schema.  The same expression works under
    Structured Streaming (F.window is the streaming group key)."""
    return (
        events.withColumn("_val", F.col(value_col).cast("decimal(18,2)"))
        .groupBy(F.window(F.col("ts").cast("timestamp"), width).alias("__w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_val").cast("double").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("__w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def kg_version_diff(
    old: DataFrame,
    new: DataFrame,
    src: str = "source",
    dst: str = "target",
    weight: str = "weight",
) -> DataFrame:
    """Edge-level diff between two KG versions → (source, target, w_old,
    w_new, delta, status ∈ added|removed|changed|same).

    The CDC-companion audit: given two committed edge tables (two
    ``edges__v{k}`` versions, an as-of snapshot vs the current graph, a
    pre- vs post-retraction state), report exactly which relationships
    appeared, vanished, or changed co-occurrence weight: the row-level
    account a takedown review or extraction-regression triage actually
    reads.

    Scale shape: ONE full-outer shuffle join on the edge key — both
    sides hash-partition on (source, target), so the join co-locates;
    no window, no collect.  Weights compare as their exact stored
    doubles (the KG's are integral sums of 1.0s, so equality is safe;
    mirrored by the oracle).  Reference anchor: the reference rebuilds
    its graph per run and keeps no version history (utils/graph.py
    68-115) — versioned diffing is what the Spark-side CDC sink adds.
    """
    o = old.select(
        F.col(src).alias("source"),
        F.col(dst).alias("target"),
        F.col(weight).cast("double").alias("w_old"),
    )
    n = new.select(
        F.col(src).alias("source"),
        F.col(dst).alias("target"),
        F.col(weight).cast("double").alias("w_new"),
    )
    j = o.join(n, ["source", "target"], "full_outer")
    status = (
        F.when(F.col("w_old").isNull(), F.lit("added"))
        .when(F.col("w_new").isNull(), F.lit("removed"))
        .when(F.col("w_old") != F.col("w_new"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.select(
        "source",
        "target",
        "w_old",
        "w_new",
        (F.coalesce("w_new", F.lit(0.0)) - F.coalesce("w_old", F.lit(0.0))).alias(
            "delta"
        ),
        status.alias("status"),
    )
