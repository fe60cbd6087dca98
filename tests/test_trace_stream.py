"""Streaming tool-transition maintenance (streaming/trace_stream.py):
the folded counts must equal the batch operator over everything
ingested — INCLUDING transitions that span a micro-batch boundary — and
replayed epochs must be no-ops."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.io import TableIO
from knowledge_graph_spark.operators.agent_trace import tool_transitions
from knowledge_graph_spark.streaming import commit
from knowledge_graph_spark.streaming.trace_stream import (
    TRACE_MARKER,
    fold_trace_batch,
    run_trace_stream,
)

ROWS_DDL = "conv_id string, turn_idx int, role string, text string, tool string, sec long"
# wave 1 ends c1 on 'search'; wave 2's first c1 call must see prev='search',
# NOT '^START' — the cross-batch stitch under test.  c2 is new in wave 2.
WAVE1 = [
    ("c1", 0, "user", "q", "", 1),
    ("c1", 1, "tool", "r", "search", 2),
    ("c1", 2, "tool", "r", "search", 3),
]
WAVE2 = [
    ("c1", 3, "tool", "r", "fetch", 4),
    ("c1", 4, "assistant", "a", "", 5),
    ("c2", 0, "tool", "r", "fetch", 6),
    ("c2", 1, "tool", "r", "search", 7),
]


def _current(io, name="trace_trans"):
    return commit.read_current(io, TRACE_MARKER, name)


def _df(spark, rows):
    return spark.createDataFrame(rows, ROWS_DDL).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.timestamp_seconds("sec").alias("ts"),
    )


def _batch_counts(spark, rows):
    return {
        (r.prev_tool, r.tool): r.n_transitions
        for r in tool_transitions(_df(spark, rows)).collect()
    }


@pytest.mark.filterwarnings("ignore")
def test_trace_stream_spanning_batches_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "turns_in")
    io = TableIO(spark, base=str(tmp_path / "tr_wh"))
    ckpt = str(tmp_path / "tr_ckpt")

    _df(spark, WAVE1).coalesce(1).write.mode("append").parquet(inp)
    run_trace_stream(spark, inp, io, ckpt)
    mid = {
        (r.prev_tool, r.tool): r.n_transitions
        for r in _current(io).collect()
    }
    assert mid == _batch_counts(spark, WAVE1)

    _df(spark, WAVE2).coalesce(1).write.mode("append").parquet(inp)
    run_trace_stream(spark, inp, io, ckpt)
    got = {
        (r.prev_tool, r.tool): r.n_transitions
        for r in _current(io).collect()
    }
    assert got == _batch_counts(spark, WAVE1 + WAVE2)
    # the boundary transition specifically
    assert got[("search", "fetch")] == 1
    assert got[("^START", "fetch")] == 1  # c2 genuinely new
    # per-conversation state carries the latest tail
    tails = {
        r.conv_id: r.last_tool for r in _current(io, "trace_last").collect()
    }
    assert tails == {"c1": "fetch", "c2": "search"}


def test_trace_fold_replay_is_noop(spark, tmp_path):
    io = TableIO(spark, base=str(tmp_path / "tr2_wh"))
    fold_trace_batch(io, _df(spark, WAVE1), epoch_id=0, lineage="L")
    before = _batch_counts(spark, WAVE1)
    got1 = {
        (r.prev_tool, r.tool): r.n_transitions
        for r in _current(io).collect()
    }
    assert got1 == before
    # replaying the committed epoch must not double-count
    fold_trace_batch(io, _df(spark, WAVE1), epoch_id=0, lineage="L")
    got2 = {
        (r.prev_tool, r.tool): r.n_transitions
        for r in _current(io).collect()
    }
    assert got2 == before
