"""Agent-transcript trace analytics: tool-call transitions and
turn-latency profiles.

The reference operates on plain conversation text and never inspects the
``tool`` / ``ts`` columns beyond ordering (conversation assembly,
/root/reference/query/inputs/loaders/dfs.py reads documents only).  For
agent transcripts (the BASELINE.json input shape carries ``role``,
``tool`` and ``ts`` per turn) these two views are the standard trace
mining primitives a transcript corpus pipeline needs:

- ``tool_transitions``: the first-order Markov transition table over each
  conversation's ordered tool-call sequence (which tool follows which —
  agent-behaviour drift detection, tool-routing audits).  A synthetic
  ``^START`` state marks each conversation's first call so entry
  probabilities are recoverable from the same table.
- ``turn_latency``: per-conversation response-delay profile for one role
  (assistant by default) — wall-clock gap between a turn and the turn
  before it, in exact integer microseconds (epoch-us subtraction, no
  float durations, so the DuckDB oracle matches bit-for-bit).

Scale shape: both are ONE window pass partitioned by conv_id (the same
hash-shuffle key as conversation assembly — on a real cluster the
transcripts table is already bucketed/partitioned by conv_id hash, so
these fold into map-side window evaluation with no extra exchange)
followed by a map-side-combinable groupBy.  No Python, no per-row UDFs;
memory per task is one conversation's run length, streamed by Spark's
window operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

START_MARKER = "^START"


def tool_transitions(
    transcripts: DataFrame,
    start_marker: str = START_MARKER,
) -> DataFrame:
    """Tool-call transition counts → (prev_tool, tool, n_transitions,
    n_convs).

    Tool calls are the turns with role='tool' and a non-empty ``tool``
    column, ordered by turn_idx within each conversation; ``prev_tool``
    is the previous call in the SAME conversation (``start_marker`` for
    the first).  ``n_convs`` counts distinct conversations exhibiting
    the transition — the support statistic that separates one runaway
    conversation from a corpus-wide pattern.
    """
    calls = transcripts.filter(
        (F.col("role") == "tool") & (F.col("tool") != "")
    ).select("conv_id", "turn_idx", "tool")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = calls.withColumn(
        "prev_tool", F.coalesce(F.lag("tool").over(w), F.lit(start_marker))
    )
    return seq.groupBy("prev_tool", "tool").agg(
        F.count("*").cast("bigint").alias("n_transitions"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
    )


def turn_latency(transcripts: DataFrame, role: str = "assistant") -> DataFrame:
    """Per-conversation response-latency profile for ``role`` →
    (conv_id, n_responses, total_wait_us, max_wait_us).

    For every turn with the given role, the wait is the epoch-microsecond
    gap to the immediately preceding turn (any role) in the same
    conversation; a role turn at turn_idx 0 has no predecessor and is
    excluded.  Turn order is the stable (conv_id, turn_idx) order, under
    which the synthesized ts is non-decreasing, so waits are >= 0.  All
    arithmetic is int64 — exact cross-engine.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    waits = (
        t.withColumn("prev_us", F.lag("ts_us").over(w))
        .filter((F.col("role") == role) & F.col("prev_us").isNotNull())
        .select("conv_id", (F.col("ts_us") - F.col("prev_us")).alias("wait_us"))
    )
    return waits.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_responses"),
        F.sum("wait_us").cast("bigint").alias("total_wait_us"),
        F.max("wait_us").cast("bigint").alias("max_wait_us"),
    )
