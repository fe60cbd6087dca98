"""Streaming weak-label monitor (streaming/weak_label_stream.py): the
folded counter table must equal a batch audit over everything ingested,
and replayed epochs must be no-ops."""

import pytest

from knowledge_graph_spark.io import TableIO
from knowledge_graph_spark.operators.corpus import weak_lf_counters, weak_lf_stats
from knowledge_graph_spark.streaming import commit
from knowledge_graph_spark.streaming.weak_label_stream import (
    WL_MARKER,
    fold_weak_label_batch,
    read_current_weak_stats,
    run_weak_label_stream,
)

DDL = "doc_id bigint, text string"
ROWS1 = [
    (0, "run the query and join agg now"),
    (1, "stream batch window pipeline"),
]
ROWS2 = [
    (2, "query the stream"),
    (3, "plain text nothing"),
    (4, "window stream batch join agg query"),
]


def _counters(io):
    return commit.read_current(io, WL_MARKER, "wl_counters")


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.mark.filterwarnings("ignore")
def test_weak_label_stream_two_waves_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "docs_in")
    io = TableIO(spark, base=str(tmp_path / "wl_wh"))
    ckpt = str(tmp_path / "wl_ckpt")

    spark.createDataFrame(ROWS1, DDL).coalesce(1).write.mode("append").parquet(inp)
    run_weak_label_stream(spark, inp, io, ckpt)
    spark.createDataFrame(ROWS2, DDL).coalesce(1).write.mode("append").parquet(inp)
    run_weak_label_stream(spark, inp, io, ckpt)

    want = _rows(weak_lf_counters(spark.createDataFrame(ROWS1 + ROWS2, DDL)))
    got = _rows(_counters(io))
    assert got == want
    # the derived audit view agrees with the one-shot batch audit
    want_stats = _rows(weak_lf_stats(spark.createDataFrame(ROWS1 + ROWS2, DDL)))
    assert _rows(read_current_weak_stats(io)) == want_stats


@pytest.mark.filterwarnings("ignore")
def test_weak_label_fold_replay_is_noop(spark, tmp_path):
    io = TableIO(spark, base=str(tmp_path / "wl_wh2"))
    b1 = spark.createDataFrame(ROWS1, DDL)
    b2 = spark.createDataFrame(ROWS2, DDL)
    fold_weak_label_batch(io, b1, 0, lineage="ck")
    fold_weak_label_batch(io, b2, 1, lineage="ck")
    after = _rows(_counters(io))
    # replaying committed epochs changes nothing
    fold_weak_label_batch(io, b1, 0, lineage="ck")
    fold_weak_label_batch(io, b2, 1, lineage="ck")
    assert _rows(_counters(io)) == after
    assert after == _rows(weak_lf_counters(spark.createDataFrame(ROWS1 + ROWS2, DDL)))
