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
