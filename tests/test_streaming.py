"""Structured-Streaming incremental construction tests."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.io import TableIO
from knowledge_graph_spark.pipeline import PipelineConfig
from knowledge_graph_spark.streaming import commit
from knowledge_graph_spark.streaming.commit import TRANSCRIPT_DDL
from knowledge_graph_spark.streaming.retract_stream import (
    CDC_MARKER,
    fold_insert_batch,
    run_kg_cdc,
)
from knowledge_graph_spark.streaming.stateful import turn_counts

TS = datetime.datetime(2024, 1, 1)


def _batch(spark, conv, mentions):
    rows = [
        (conv, i, "user", f"{m} met {mentions[0]} here", "", TS + datetime.timedelta(minutes=i))
        for i, m in enumerate(mentions)
    ]
    return spark.createDataFrame(rows, TRANSCRIPT_DDL)


@pytest.mark.filterwarnings("ignore")
def test_incremental_fold_two_batches(spark, tmp_path):
    """The CDC sink's insert stream folds arriving files as the G5 graph
    union, exactly once per epoch."""
    inp = str(tmp_path / "in")
    io = TableIO(spark, base=str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(chunk_size=64, chunk_overlap=8, tokenizer="ws")

    def nodes():
        return {r.title: r for r in commit.read_current(io, CDC_MARKER, "nodes").collect()}

    _batch(spark, "c1", ["ALPHA", "BETA"]).write.mode("append").parquet(inp)
    run_kg_cdc(spark, inp, None, io, ckpt, cfg)
    assert {"ALPHA", "BETA"} <= set(nodes())

    # second file: overlapping entity ALPHA + new GAMMA
    _batch(spark, "c2", ["ALPHA", "GAMMA"]).write.mode("append").parquet(inp)
    run_kg_cdc(spark, inp, None, io, ckpt, cfg)
    nodes2 = nodes()
    assert {"ALPHA", "BETA", "GAMMA"} <= set(nodes2)
    # collided node carries the G5 framed description from the union
    assert "Old Information---" in nodes2["ALPHA"].description
    # only-old and only-new nodes pass through unframed
    assert "Old Information---" not in nodes2["BETA"].description
    assert "Old Information---" not in nodes2["GAMMA"].description

    # re-running with no new files is a no-op (offset log dedups inputs)
    before = {t: r.description for t, r in nodes().items()}
    state = json.loads(io.read_text(CDC_MARKER))
    run_kg_cdc(spark, inp, None, io, ckpt, cfg)
    assert {t: r.description for t, r in nodes().items()} == before
    assert json.loads(io.read_text(CDC_MARKER)) == state

    # crash-replay idempotence: re-folding an already-committed epoch is
    # a no-op (offset committed, fold replayed — the marker's epoch check
    # catches it), and a replay of a PARTIALLY-committed fold redoes the
    # batch from the last committed version as a unit
    lineage = f"{ckpt}/inserts"  # run_kg_cdc's insert-stream checkpoint
    committed_epoch = state["epochs"][lineage]
    fold_insert_batch(
        io, _batch(spark, "c2", ["ALPHA", "GAMMA"]), cfg, committed_epoch, lineage=lineage
    )
    assert {t: r.description for t, r in nodes().items()} == before
    assert json.loads(io.read_text(CDC_MARKER)) == state
    # uncommitted-epoch replay (as after a crash before the marker write):
    # applied once, exactly
    for _ in range(2):
        fold_insert_batch(
            io, _batch(spark, "c3", ["DELTA"]), cfg, committed_epoch + 1, lineage=lineage
        )
    assert json.loads(io.read_text(CDC_MARKER))["version"] == state["version"] + 1
    nodes3 = nodes()
    assert "DELTA" in nodes3
    assert "Old Information---" not in nodes3["DELTA"].description  # folded once


def test_turn_counts_watermarked_aggregate(spark, tmp_path):
    inp = str(tmp_path / "stream_in")
    _batch(spark, "c1", ["A1X", "B2Y", "C3Z"]).write.parquet(inp)
    stream = (
        spark.readStream.schema(TRANSCRIPT_DDL).parquet(inp)
    )
    agg = turn_counts(stream, window="1 hour", watermark="2 hours")
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("tc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "tc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode only emits windows the watermark has closed; with a
    # bounded historical file everything is late → assert the aggregation
    # plan ran and the watermark column is wired (complete-mode check)
    q2 = (
        turn_counts(stream).writeStream.format("memory")
        .queryName("tc2")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "tc2_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    rows = spark.sql("select * from tc2").collect()
    assert len(rows) == 1 and rows[0].n_turns == 3 and rows[0].n_tool_turns == 0


@pytest.mark.filterwarnings("ignore")
def test_conversation_sessions_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: turns for one conversation
    arrive across TWO micro-batches; per-key state accumulates counts +
    rolling fingerprint, and the session row is emitted exactly once
    after the processing-time gap."""
    import time

    from knowledge_graph_spark.streaming.stateful import (
        _fold_fp,
        conversation_sessions,
    )

    inp = str(tmp_path / "sess_in")
    b1 = _batch(spark, "c1", ["ALPHA", "BETA"])
    # one file per logical batch: the fold fingerprint is arrival-order
    # sensitive, and each file becomes its own micro-batch here
    b1.coalesce(1).write.mode("append").parquet(inp)
    stream = (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    # late turns for the SAME conversation, in a SECOND file — state must
    # carry over (maxFilesPerTrigger=1 forces separate micro-batches, so
    # no sleep is needed to split them; the generous gap means the
    # timeout cannot fire between the two batches even under load)
    time.sleep(1.1)  # distinct mtimes → deterministic file (= fold) order
    rows = [
        ("c1", 2, "user", "GAMMA arrived late", "", TS + datetime.timedelta(minutes=2))
    ]
    spark.createDataFrame(rows, TRANSCRIPT_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    q = (
        conversation_sessions(stream, gap_ms=6000)
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        got = []
        for _ in range(120):  # ≤60s: drain both files, then gap, then emit
            got = spark.sql("select * from sess").collect()
            if got:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(got) == 1
    r = got[0]
    assert r.conv_id == "c1" and r.n_turns == 3
    texts = [t.text for t in b1.orderBy("turn_idx").collect()] + ["GAMMA arrived late"]
    assert r.text_fp == _fold_fp(0, texts)
    assert r.first_ts < r.last_ts


@pytest.mark.filterwarnings("ignore")
def test_streaming_dedup_two_waves_equals_batch(spark, tmp_path):
    """Two document waves folded through the streaming band index yield
    the same id-level pair set as batch minhash over the full corpus."""
    from knowledge_graph_spark.functions.textqc import normalized_text
    from knowledge_graph_spark.operators import dedup
    from knowledge_graph_spark.streaming.dedup_stream import (
        DEDUP_MARKER,
        run_dedup_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows1 = [
        (0, base),
        (1, base.replace("dog", "cat")),
        (2, "totally unrelated text about adaptive query execution plans"),
    ]
    rows2 = [
        (3, base.replace("quick", "rapid")),  # cross-wave near-dup of 0/1
        (4, base.upper()),                    # normalized-identical to 0: no pair
        (5, "another unrelated document mentioning shuffle partitions"),
    ]
    ddl = "doc_id bigint, text string"
    inp = str(tmp_path / "docs_in")
    io = TableIO(spark, base=str(tmp_path / "dedup_wh"))
    ckpt = str(tmp_path / "dedup_ckpt")

    spark.createDataFrame(rows1, ddl).coalesce(1).write.mode("append").parquet(inp)
    run_dedup_stream(spark, inp, io, ckpt, threshold=0.2)
    spark.createDataFrame(rows2, ddl).coalesce(1).write.mode("append").parquet(inp)
    run_dedup_stream(spark, inp, io, ckpt, threshold=0.2)

    full = spark.createDataFrame(rows1 + rows2, ddl)
    named = full.select("doc_id", normalized_text(F.col("text")).alias("title"))
    got = {
        (r.id_a, r.id_b)
        for r in dedup.pairs_to_ids(
            commit.read_current(io, DEDUP_MARKER, "mh_pairs"), named
        ).collect()
    }
    batch = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_doc_pairs(full, threshold=0.2).collect()
    }
    assert got == batch
    # the cross-wave near-dup was found by the index probe, not a rescan
    assert any(3 in p for p in got)


@pytest.mark.filterwarnings("ignore")
def test_conversation_sessions_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas twin: same two-micro-batch scenario as
    the applyInPandasWithState test — state carries across batches, the
    session emits exactly once on the quiet timer, and the fold
    fingerprint proves arrival-order integrity.  Runs on the RocksDB
    state store provider the new API requires (restored afterwards)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's Python runner needs protobuf "
        "(absent in this sandbox; see stateful_tws.py docstring)",
    )
    import time

    from knowledge_graph_spark.streaming.stateful import _fold_fp
    from knowledge_graph_spark.streaming.stateful_tws import (
        conversation_sessions_tws,
    )

    inp = str(tmp_path / "tws_in")
    b1 = _batch(spark, "c1", ["ALPHA", "BETA"])
    b1.coalesce(1).write.mode("append").parquet(inp)
    stream = (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    time.sleep(1.1)  # distinct mtimes → deterministic file (= fold) order
    rows = [
        ("c1", 2, "user", "GAMMA arrived late", "", TS + datetime.timedelta(minutes=2))
    ]
    spark.createDataFrame(rows, TRANSCRIPT_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    q = None
    try:
        q = (
            conversation_sessions_tws(stream, gap_ms=6000)
            .writeStream.format("memory")
            .queryName("sess_tws")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        got = []
        for _ in range(120):  # ≤60s: drain both files, then gap, then emit
            got = spark.sql("select * from sess_tws").collect()
            if got:
                break
            time.sleep(0.5)
    finally:
        if q is not None:
            q.stop()
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    assert len(got) == 1
    r = got[0]
    assert r.conv_id == "c1" and r.n_turns == 3
    texts = [t.text for t in b1.orderBy("turn_idx").collect()] + ["GAMMA arrived late"]
    assert r.text_fp == _fold_fp(0, texts)
    assert r.first_ts < r.last_ts


def test_session_processor_fold_contract(spark):
    """Drive SessionProcessor directly (no streaming runner, so no
    protobuf needed): two handleInputRows calls fold into one state, the
    quiet timer is re-armed each batch (old timer deleted), and
    handleExpiredTimer emits exactly once then clears state."""
    import pandas as pd

    from knowledge_graph_spark.streaming.stateful import _fold_fp
    from knowledge_graph_spark.streaming.stateful_tws import SessionProcessor

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def clear(self):
            self.v = None

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()
            self.timers = []

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.state

        def listTimers(self):
            return list(self.timers)

        def deleteTimer(self, t):
            self.timers.remove(t)

        def registerTimer(self, t):
            self.timers.append(t)

    class FakeTimerValues:
        def __init__(self, now_ms):
            self.now = now_ms

        def getCurrentProcessingTimeInMs(self):
            return self.now

    def batch(texts, start_idx, start_min):
        return pd.DataFrame(
            {
                "turn_idx": range(start_idx, start_idx + len(texts)),
                "text": texts,
                "ts": [
                    pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=start_min + i)
                    for i in range(len(texts))
                ],
            }
        )

    p = SessionProcessor(gap_ms=6000)
    h = FakeHandle()
    p.init(h)
    out1 = list(p.handleInputRows(("c1",), iter([batch(["ALPHA", "BETA"], 0, 0)]),
                                  FakeTimerValues(1000)))
    assert out1 == [] and h.timers == [7000]
    out2 = list(p.handleInputRows(("c1",), iter([batch(["GAMMA"], 2, 2)]),
                                  FakeTimerValues(2000)))
    # re-armed: the stale 7000 timer was deleted, only 8000 remains
    assert out2 == [] and h.timers == [8000]
    n, first_us, last_us, fp = h.state.get()
    assert n == 3 and first_us < last_us
    assert fp == _fold_fp(0, ["ALPHA", "BETA", "GAMMA"])
    emitted = list(p.handleExpiredTimer(("c1",), FakeTimerValues(9000), None))
    assert len(emitted) == 1 and emitted[0]["n_turns"].iloc[0] == 3
    assert emitted[0]["text_fp"].iloc[0] == fp
    assert not h.state.exists()
    # a second expiry is a no-op (exactly-once emission)
    assert list(p.handleExpiredTimer(("c1",), FakeTimerValues(9999), None)) == []
