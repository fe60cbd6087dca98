"""Streaming DSIR bucket-model maintenance.

DSIR's target/raw hashed-bigram models (operators/corpus.dsir_bucket_
counts) are plain occurrence counts, so — like the HLL/CMS sketches —
they are SUM-mergeable: a continuously-ingested corpus keeps its
importance models current by folding each micro-batch's bucket counts
into the committed table, O(batch) work and ≤ n_buckets rows of state,
instead of rescanning everything ingested so far.  The fold is exact:
the merged table is IDENTICAL to ``dsir_bucket_counts`` over the full
ingested corpus, hence so is every downstream importance score
(asserted in tests/test_dsir_stream.py).

Commit protocol: ``streaming/commit.py``.  Each fold writes a fresh
``dsir_buckets__v{k+1}`` table and publishes it with ONE marker write.
Score via ``corpus.dsir_scores(..., bucket_counts=commit.read_current(
io, DSIR_MARKER, "dsir_buckets"))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import TableIO
from ..operators.corpus import dsir_bucket_counts
from . import commit

DOCUMENT_DDL = "doc_id bigint, text string"

DSIR_MARKER = "_stream/dsir_commit.json"


def fold_dsir_batch(
    io: TableIO,
    batch_df: DataFrame,
    epoch_id: int,
    target: F.Column,
    lineage: str = "",
    n_buckets: int = 4096,
) -> None:
    """One document micro-batch → bucket-count its hashed bigrams, SUM
    into the committed models, publish as a unit."""
    state = commit.state(io, DSIR_MARKER)
    if commit.committed(state, lineage, epoch_id):
        return
    k = state["version"]

    counts = dsir_bucket_counts(batch_df, target=target, n_buckets=n_buckets)
    if k >= 0:
        counts = (
            io.read(f"dsir_buckets__v{k}")
            .unionByName(counts)
            .groupBy("b")
            .agg(
                F.sum("cr").cast("bigint").alias("cr"),
                F.sum("ct").cast("bigint").alias("ct"),
            )
        )
    io.write(counts, f"dsir_buckets__v{k + 1}")
    commit.publish(io, DSIR_MARKER, state, lineage, epoch_id, k + 1)
    commit.gc(io, ("dsir_buckets",), k - 1)


def run_dsir_stream(
    spark: SparkSession,
    input_dir: str,
    io: TableIO,
    checkpoint_dir: str,
    target: F.Column,
    n_buckets: int = 4096,
) -> None:
    """Drain the DSIR model stream over every file present now."""
    commit.drain(
        commit.file_stream(spark, DOCUMENT_DDL, input_dir),
        lambda df, epoch: fold_dsir_batch(
            io, df, epoch, target=target, lineage=checkpoint_dir, n_buckets=n_buckets
        ),
        checkpoint_dir,
    )
