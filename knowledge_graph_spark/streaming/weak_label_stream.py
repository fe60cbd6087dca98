"""Streaming weak-supervision monitor.

A continuously-ingested corpus wants continuously-current labeling-
function health: coverage collapsing (an upstream format change stops an
LF from firing) or conflict spiking (two rules drifting apart) should
surface within one micro-batch, not at the next batch audit.  Every
counter in ``corpus.weak_lf_counters`` is a SUM of per-document
indicators — the majority vote is decided row-locally per document — so
the fold is exact: summing per-batch counter tables equals a batch audit
over everything ingested so far (asserted in
tests/test_weak_label_stream.py).  Work per batch is O(batch); state is
one row per labeling function.

Commit protocol: ``streaming/commit.py``.  Each fold writes a fresh
``wl_counters__v{k+1}`` table and publishes it with ONE marker write.
Read the audit view via ``read_current_weak_stats`` (coverage is derived
at read time, never folded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import TableIO
from ..operators.corpus import weak_lf_counters, weak_stats_from_counters
from . import commit

DOCUMENT_DDL = "doc_id bigint, text string"

WL_MARKER = "_stream/weak_label_commit.json"


def read_current_weak_stats(io: TableIO) -> DataFrame:
    """The committed audit table (lf, label, n_fired, coverage_micro,
    n_overlap, n_conflict, n_agree_vote) over everything ingested."""
    return weak_stats_from_counters(
        commit.read_current(io, WL_MARKER, "wl_counters")
    )


def fold_weak_label_batch(
    io: TableIO,
    batch_df: DataFrame,
    epoch_id: int,
    lineage: str = "",
) -> None:
    """One document micro-batch → count the batch's LF indicators, SUM
    into the committed counters, publish as a unit."""
    state = commit.state(io, WL_MARKER)
    if commit.committed(state, lineage, epoch_id):
        return
    k = state["version"]

    counters = weak_lf_counters(batch_df)
    if k >= 0:
        counters = (
            io.read(f"wl_counters__v{k}")
            .unionByName(counters)
            .groupBy("lf", "label")
            .agg(
                *(
                    F.sum(c).cast("bigint").alias(c)
                    for c in (
                        "n_docs",
                        "n_fired",
                        "n_overlap",
                        "n_conflict",
                        "n_agree_vote",
                    )
                )
            )
        )
    io.write(counters, f"wl_counters__v{k + 1}")
    commit.publish(io, WL_MARKER, state, lineage, epoch_id, k + 1)
    commit.gc(io, ("wl_counters",), k - 1)


def run_weak_label_stream(
    spark: SparkSession, input_dir: str, io: TableIO, checkpoint_dir: str
) -> None:
    """Drain the streaming monitor over every file present now."""
    commit.drain(
        commit.file_stream(spark, DOCUMENT_DDL, input_dir),
        lambda df, epoch: fold_weak_label_batch(io, df, epoch, lineage=checkpoint_dir),
        checkpoint_dir,
    )
