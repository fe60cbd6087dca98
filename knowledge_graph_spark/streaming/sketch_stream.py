"""Structured-Streaming corpus-accounting sketches.

A continuously-ingested corpus needs continuously-current accounting —
distinct-token count, per-token frequencies, length distribution — but
recomputing them per arriving batch rescans the accumulated corpus
(O(stream²)).  The sketches in ``operators/sketches.py`` are algebraic
aggregates, so the fold is exact: HLL registers merge by MAX, Count-Min
cells and log2-histogram buckets by SUM, and the merged tables are
IDENTICAL to a batch run over everything ingested
so far (asserted in tests/test_sketch_stream.py).  Work per batch is
O(batch); state is 2^p + d·w rows in tables, not the streaming state
store.

Commit protocol: ``streaming/commit.py``.  Each fold writes fresh
``hll_regs__v{k+1}`` / ``cms_cells__v{k+1}`` / ``len_hist__v{k+1}``
tables and publishes them with ONE marker write.  Read via
``commit.read_current(io, SKETCH_MARKER, "hll_regs")``; estimate via
``sketches.hll_estimate`` over the committed register table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textqc import normalized_text, ws_tokens_col
from ..io import TableIO
from ..operators.sketches import cms_table, hll_registers, log2_histogram
from . import commit

DOCUMENT_DDL = "doc_id bigint, text string"

SKETCH_MARKER = "_stream/sketch_commit.json"


def _batch_tokens(batch_df: DataFrame) -> DataFrame:
    return batch_df.select(
        F.explode(ws_tokens_col(normalized_text(F.col("text")))).alias("token")
    )


def fold_sketch_batch(
    io: TableIO,
    batch_df: DataFrame,
    epoch_id: int,
    lineage: str = "",
) -> None:
    """One document micro-batch → sketch the batch's tokens and lengths,
    merge into the committed versions (MAX / SUM), publish as a unit."""
    state = commit.state(io, SKETCH_MARKER)
    if commit.committed(state, lineage, epoch_id):
        return
    k = state["version"]

    toks = _batch_tokens(batch_df)
    regs_b = hll_registers(toks)
    counts_b = toks.groupBy("token").agg(F.count("*").cast("bigint").alias("cnt"))
    cells_b = cms_table(counts_b)
    hist_b = log2_histogram(
        batch_df.select(
            F.size(ws_tokens_col(normalized_text(F.col("text")))).alias("n_tokens")
        ),
        "n_tokens",
    )

    if k >= 0:
        regs_b = (
            io.read(f"hll_regs__v{k}")
            .unionByName(regs_b)
            .groupBy("register")
            .agg(F.max("max_rank").cast("int").alias("max_rank"))
        )
        cells_b = (
            io.read(f"cms_cells__v{k}")
            .unionByName(cells_b)
            .groupBy("row", "bucket")
            .agg(F.sum("total").cast("bigint").alias("total"))
        )
        hist_b = (
            io.read(f"len_hist__v{k}")
            .unionByName(hist_b)
            .groupBy("bucket")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
    io.write(regs_b, f"hll_regs__v{k + 1}")
    io.write(cells_b, f"cms_cells__v{k + 1}")
    io.write(hist_b, f"len_hist__v{k + 1}")
    commit.publish(io, SKETCH_MARKER, state, lineage, epoch_id, k + 1)
    commit.gc(io, ("hll_regs", "cms_cells", "len_hist"), k - 1)


def run_sketch_stream(
    spark: SparkSession, input_dir: str, io: TableIO, checkpoint_dir: str
) -> None:
    """Drain the streaming sketches over every file present now."""
    commit.drain(
        commit.file_stream(spark, DOCUMENT_DDL, input_dir),
        lambda df, epoch: fold_sketch_batch(io, df, epoch, lineage=checkpoint_dir),
        checkpoint_dir,
    )
