"""Custom stateful streaming operator: conversation sessionization via
``applyInPandasWithState``.

The CDC KG fold (retract_stream.py) assumes conversations arrive
atomically in one micro-batch.  This operator removes that assumption
for the assembly stage: turns for a conv_id may arrive across many
micro-batches; per-key state accumulates (n_turns, first/last event
time, a rolling text fingerprint), and the session is EMITTED exactly
once — when the conversation has been quiet for ``gap_ms`` of processing
time (state timeout).  Reference analogue: none (the reference is
batch-only); this is the Structured-Streaming-native completion of its
conversation assembly (SURVEY.md §2.1 S1 / Q9) for late-arriving turns.

Scale shape: state is O(#open conversations) × a few scalars — NOT the
turn text (only counts, timestamps and a fold fingerprint are kept), so
the state store stays small at 10^12-turn scale where the naive design
(buffering full turn text in state) would not.  Emission is append-mode
compatible; downstream the emitted sessions feed the same batch
pipeline (build_graph) via foreachBatch or a table sink.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.textqc import FP_BASE, FP_MOD

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("text_fp", T.LongType()),
    ]
)

# (n_turns, first_ts_epoch_us, last_ts_epoch_us, text_fp)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("text_fp", T.LongType()),
    ]
)


def _fold_fp(fp: int, texts: Iterable[str]) -> int:
    """Order-sensitive rolling fingerprint over the turn texts — cheap
    integrity evidence that state survived across batches."""
    for t in texts:
        for ch in t or "":
            fp = (fp * FP_BASE + ord(ch)) % FP_MOD
    return fp


def conversation_sessions(stream: DataFrame, gap_ms: int = 60_000) -> DataFrame:
    """Sessionize a transcript stream: one output row per conversation,
    emitted after ``gap_ms`` of processing-time quiet (state timeout).

    Input: the TRANSCRIPT_DDL stream (conv_id, turn_idx, role, text,
    tool, ts).  Output: SESSION_SCHEMA (append mode)."""

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            n, first_us, last_us, fp = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [n],
                    "first_ts": [pd.Timestamp(first_us, unit="us")],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                    "text_fp": [fp],
                }
            )
            return
        n, first_us, last_us, fp = state.get if state.exists else (0, None, None, 0)
        for pdf in pdfs:
            pdf = pdf.sort_values("turn_idx")
            n += len(pdf)
            us = pdf["ts"].astype("int64") // 1000  # ns → us
            lo, hi = int(us.min()), int(us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
            fp = _fold_fp(fp, pdf["text"].fillna(""))
        state.update((n, first_us, last_us, fp))
        state.setTimeoutDuration(gap_ms)
        yield from ()

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def turn_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked per-conversation turn counts by event-time window —
    the late-data-tolerant streaming aggregate pattern (role mix per
    window; append-mode compatible)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool_turns"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "conv_id",
            "n_turns",
            "n_tool_turns",
        )
    )
