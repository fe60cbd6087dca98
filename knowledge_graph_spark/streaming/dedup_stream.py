"""Structured-Streaming corpus deduplication.

Continuous ingest is how a 100-TB training corpus is actually built, so
near-dup detection has to be incremental: rescanning the accumulated
corpus per arriving batch is O(stream²).  This sink folds each document
micro-batch through ``dedup.minhash_incremental`` — signatures are
computed for the batch's NEW distinct texts only, candidate lookup is a
(band, bh) equi-join against the persisted band index, and the index
grows by exactly the batch's signatures.  Work per batch is
O(batch + matching buckets), state is O(corpus distinct texts) in TABLES
(not the streaming state store), and the folded pair set equals batch
mode (dedup.py docstring states the bucket-cap proviso).

Commit protocol: ``streaming/commit.py``.  Each fold writes fresh
``mh_index__v{k+1}`` / ``mh_pairs__v{k+1}`` tables and publishes both
with ONE marker write.  Read the accumulated pairs via
``commit.read_current(io, DEDUP_MARKER, "mh_pairs")``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import TableIO
from ..operators.dedup import minhash_incremental
from . import commit

DOCUMENT_DDL = "doc_id bigint, text string"

DEDUP_MARKER = "_stream/dedup_commit.json"


def fold_dedup_batch(
    io: TableIO,
    batch_df: DataFrame,
    epoch_id: int,
    lineage: str = "",
    threshold: float = 0.5,
) -> None:
    """One document micro-batch → index probe + append, committed as a
    unit (index and accumulated name-pair table under one marker)."""
    state = commit.state(io, DEDUP_MARKER)
    if commit.committed(state, lineage, epoch_id):
        return
    k = state["version"]
    old_index = io.read(f"mh_index__v{k}") if k >= 0 else None
    new_pairs, merged_index = minhash_incremental(
        batch_df, old_index, threshold=threshold
    )
    all_pairs = (
        new_pairs
        if k < 0
        else io.read(f"mh_pairs__v{k}").unionByName(new_pairs)
    )
    io.write(merged_index, f"mh_index__v{k + 1}")
    io.write(all_pairs, f"mh_pairs__v{k + 1}")
    commit.publish(io, DEDUP_MARKER, state, lineage, epoch_id, k + 1)
    commit.gc(io, ("mh_index", "mh_pairs"), k - 1)


def run_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    io: TableIO,
    checkpoint_dir: str,
    threshold: float = 0.5,
) -> None:
    """Drain the streaming dedup over every file present now."""
    commit.drain(
        commit.file_stream(spark, DOCUMENT_DDL, input_dir),
        lambda df, epoch: fold_dedup_batch(
            io, df, epoch, lineage=checkpoint_dir, threshold=threshold
        ),
        checkpoint_dir,
    )
