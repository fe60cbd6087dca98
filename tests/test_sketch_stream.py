"""Streaming sketch maintenance (streaming/sketch_stream.py): the folded
HLL register and Count-Min cell tables must equal a batch run over
everything ingested, and replayed epochs must be no-ops."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.functions.textqc import normalized_text, ws_tokens_col
from knowledge_graph_spark.io import TableIO
from knowledge_graph_spark.operators import sketches as sk
from knowledge_graph_spark.streaming import commit
from knowledge_graph_spark.streaming.sketch_stream import (
    SKETCH_MARKER,
    fold_sketch_batch,
    run_sketch_stream,
)

DDL = "doc_id bigint, text string"
ROWS1 = [
    (0, "alpha beta gamma delta alpha"),
    (1, "beta beta epsilon zeta"),
]
ROWS2 = [
    (2, "alpha eta theta"),
    (3, "iota kappa beta gamma gamma"),
]


def _current(io, name):
    return commit.read_current(io, SKETCH_MARKER, name)


def _batch_tables(spark, rows):
    full = spark.createDataFrame(rows, DDL)
    toks = full.select(
        F.explode(ws_tokens_col(normalized_text(F.col("text")))).alias("token")
    )
    regs = {
        r["register"]: r["max_rank"] for r in sk.hll_registers(toks).collect()
    }
    counts = toks.groupBy("token").agg(F.count("*").cast("bigint").alias("cnt"))
    cells = {
        (r["row"], r["bucket"]): r["total"] for r in sk.cms_table(counts).collect()
    }
    lens = full.select(
        F.size(ws_tokens_col(normalized_text(F.col("text")))).alias("n_tokens")
    )
    hist = {
        r["bucket"]: r["n"] for r in sk.log2_histogram(lens, "n_tokens").collect()
    }
    return regs, cells, hist


@pytest.mark.filterwarnings("ignore")
def test_sketch_stream_two_waves_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "docs_in")
    io = TableIO(spark, base=str(tmp_path / "sk_wh"))
    ckpt = str(tmp_path / "sk_ckpt")

    spark.createDataFrame(ROWS1, DDL).coalesce(1).write.mode("append").parquet(inp)
    run_sketch_stream(spark, inp, io, ckpt)
    spark.createDataFrame(ROWS2, DDL).coalesce(1).write.mode("append").parquet(inp)
    run_sketch_stream(spark, inp, io, ckpt)

    want_regs, want_cells, want_hist = _batch_tables(spark, ROWS1 + ROWS2)
    got_regs = {
        r["register"]: r["max_rank"]
        for r in _current(io, "hll_regs").collect()
    }
    got_cells = {
        (r["row"], r["bucket"]): r["total"]
        for r in _current(io, "cms_cells").collect()
    }
    got_hist = {
        r["bucket"]: r["n"] for r in _current(io, "len_hist").collect()
    }
    assert got_regs == want_regs
    assert got_cells == want_cells
    assert got_hist == want_hist

    # the estimate over the merged registers goes through the identical
    # arithmetic as a batch hll_distinct
    est = sk.hll_estimate(_current(io, "hll_regs")).collect()[0]
    full = spark.createDataFrame(ROWS1 + ROWS2, DDL)
    toks = full.select(
        F.explode(ws_tokens_col(normalized_text(F.col("text")))).alias("token")
    )
    batch_est = sk.hll_distinct(toks).collect()[0]
    assert est.asDict() == batch_est.asDict()


def test_sketch_fold_replay_is_noop(spark, tmp_path):
    io = TableIO(spark, base=str(tmp_path / "sk_wh2"))
    b1 = spark.createDataFrame(ROWS1, DDL)
    fold_sketch_batch(io, b1, epoch_id=0, lineage="ck")
    v1 = {
        (r["row"], r["bucket"]): r["total"]
        for r in _current(io, "cms_cells").collect()
    }
    # crash-replay of the SAME epoch under the same lineage: skipped
    fold_sketch_batch(io, b1, epoch_id=0, lineage="ck")
    v2 = {
        (r["row"], r["bucket"]): r["total"]
        for r in _current(io, "cms_cells").collect()
    }
    assert v1 == v2
    # a NEW epoch folds in (totals strictly grow for repeated tokens)
    fold_sketch_batch(io, b1, epoch_id=1, lineage="ck")
    v3 = {
        (r["row"], r["bucket"]): r["total"]
        for r in _current(io, "cms_cells").collect()
    }
    assert sum(v3.values()) == 2 * sum(v1.values())


def test_sketch_fold_replay_skipped_after_other_lineage_commits(spark, tmp_path):
    """Two streams (lineages A and B) commit into one marker; a replay of
    A's committed epoch 0 after B's commit is still skipped, so the
    length histogram counts two folds, not three."""
    io = TableIO(spark, base=str(tmp_path / "sk_wh3"))
    b1 = spark.createDataFrame(ROWS1, DDL)
    fold_sketch_batch(io, b1, epoch_id=0, lineage="A")
    fold_sketch_batch(io, b1, epoch_id=0, lineage="B")
    fold_sketch_batch(io, b1, epoch_id=0, lineage="A")  # replay
    _, _, hist = _batch_tables(spark, ROWS1)
    got = {r["bucket"]: r["n"] for r in _current(io, "len_hist").collect()}
    assert got == {b: 2 * n for b, n in hist.items()}
