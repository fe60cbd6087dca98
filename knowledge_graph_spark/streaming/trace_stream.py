"""Structured-Streaming maintenance of the tool-transition table.

``agent_trace.tool_transitions`` over an ever-growing transcript stream
would rescan the accumulated corpus per batch (O(stream²)); this fold
keeps the transition counts continuously current in O(batch) work.  The
wrinkle the sketch folds (sketch_stream.py) don't have: a transition can
SPAN a micro-batch boundary — the first tool call a conversation makes
in batch k+1 continues the last call it made in batch k, not ^START.
The fold therefore carries a tiny side table ``trace_last__v{k}``
(conv_id → tool of the highest turn_idx call seen so far): batch-local
transitions come from the usual lag window, each conversation's first
in-batch call takes its predecessor from the committed side table
(falling back to ^START for genuinely new conversations), and counts
merge by SUM.  With that stitch the folded table is IDENTICAL to the
batch operator over everything ingested (asserted in
tests/test_trace_stream.py) — for ``n_transitions``; the batch
operator's ``n_convs`` support column is a COUNT DISTINCT, which is not
SUM-mergeable, so the streamed table intentionally omits it (maintain an
HLL per transition if an approximate support is ever needed).

Exactness assumption (the natural log-ingestion shape): a
conversation's turns arrive in turn_idx order ACROSS batches — within a
batch any order is fine (the window sorts).  Out-of-order cross-batch
arrival would need the full per-conversation call log in state; this
fold keeps state at one row per OPEN conversation instead, which is
what survives 10^12 turns.

Commit protocol: ``streaming/commit.py``.  Each fold writes
``trace_trans__v{k+1}`` + ``trace_last__v{k+1}`` fresh and publishes
both with ONE marker write.  Read via ``commit.read_current(io,
TRACE_MARKER, "trace_trans")`` (prev_tool, tool, n_transitions) or
``"trace_last"`` (conv_id, last_tool).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import TableIO
from ..operators.agent_trace import START_MARKER
from . import commit

TRACE_MARKER = "_stream/trace_commit.json"


def fold_trace_batch(
    io: TableIO, batch_df: DataFrame, epoch_id: int, lineage: str = ""
) -> None:
    """One transcript micro-batch → stitch cross-batch predecessors from
    the committed per-conversation state, SUM-merge transition counts,
    publish both tables as a unit."""
    state = commit.state(io, TRACE_MARKER)
    if commit.committed(state, lineage, epoch_id):
        return
    k = state["version"]

    calls = batch_df.filter(
        (F.col("role") == "tool") & (F.col("tool") != "")
    ).select("conv_id", "turn_idx", "tool")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = calls.withColumn("__prev_in_batch", F.lag("tool").over(w))

    if k >= 0:
        last = io.read(f"trace_last__v{k}")
    else:
        last = calls.sparkSession.createDataFrame(
            [], "conv_id string, last_tool string"
        )

    seq = seq.join(last, "conv_id", "left").withColumn(
        "prev_tool",
        F.coalesce("__prev_in_batch", "last_tool", F.lit(START_MARKER)),
    )
    trans_b = seq.groupBy("prev_tool", "tool").agg(
        F.count("*").cast("bigint").alias("n_transitions")
    )
    if k >= 0:
        trans_b = (
            io.read(f"trace_trans__v{k}")
            .unionByName(trans_b)
            .groupBy("prev_tool", "tool")
            .agg(F.sum("n_transitions").cast("bigint").alias("n_transitions"))
        )

    # new per-conversation tail: the batch's highest-turn_idx call wins;
    # conversations silent this batch keep their committed tail
    batch_last = calls.groupBy("conv_id").agg(
        F.max_by("tool", "turn_idx").alias("last_tool")
    )
    merged_last = (
        last.join(batch_last.select("conv_id"), "conv_id", "left_anti")
        .unionByName(batch_last)
    )

    io.write(trans_b, f"trace_trans__v{k + 1}")
    io.write(merged_last, f"trace_last__v{k + 1}")
    commit.publish(io, TRACE_MARKER, state, lineage, epoch_id, k + 1)
    commit.gc(io, ("trace_trans", "trace_last"), k - 1)


def run_trace_stream(
    spark: SparkSession, input_dir: str, io: TableIO, checkpoint_dir: str
) -> None:
    """Drain the transition fold over every file present now."""
    commit.drain(
        commit.file_stream(spark, commit.TRANSCRIPT_DDL, input_dir),
        lambda df, epoch: fold_trace_batch(io, df, epoch, lineage=checkpoint_dir),
        checkpoint_dir,
    )
