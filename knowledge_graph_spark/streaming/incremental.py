"""Structured-Streaming incremental KG construction.

The reference is batch-only with file checkpoints (SURVEY.md §2.9); its
incremental story is the extract-stage graph union G5 (reference
utils/graph.py:68-115).  Here the same union runs inside a Structured
Streaming ``foreachBatch`` sink, so new transcript partitions landing in
the input location are folded into the materialized node/edge tables
continuously:

    readStream(transcripts) → foreachBatch:
        build_graph(micro-batch) → incremental_union_{nodes,edges}(old, new)
        → TableIO overwrite

Exactly-once: the streaming checkpoint (offset log) deduplicates input
files across restarts, and the sink commits idempotently the way Delta's
``txnAppId``/``txnVersion`` writer does: each fold writes nodes+edges to
NEW versioned tables (``nodes__v{k+1}``, ``edges__v{k+1}``) — never
overwriting the version it read — then publishes both in ONE small
commit-marker write recording (lineage, epoch, version).  A crash before
the marker leaves v{k} intact and the replayed batch redoes the fold as
a unit from v{k}; a crash after the marker is caught by the epoch check
(replayed epoch ≤ committed epoch for the same lineage → skip).  The
lineage id is the checkpoint location, so a fresh checkpoint (which
replays all input) never wrongly skips.  Read the published graph via
``read_current(io, name)``.

Assumption (documented contract): conversations arrive atomically — all
turns of a conv_id land in one micro-batch (one file/partition per
conversation chunk).  Cross-batch conversation stitching would need a
session-window + watermark aggregation (``turn_counts`` shows the
watermark pattern) and is out of scope for the reference's semantics.

Scale: each micro-batch is an independent bounded pipeline (same code as
batch); state lives in the tables, not in streaming state store — so
state size is O(graph), not O(stream).
"""

from __future__ import annotations

import json
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import TableIO
from ..operators.merge import incremental_union_edges, incremental_union_nodes
from ..pipeline import PipelineConfig, build_graph

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

COMMIT_MARKER = "_stream/commit.json"


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """File-source transcript stream; ``max_files_per_trigger`` sets the
    micro-batch size (files × rows-per-file), the knob the CDC
    amortization study sweeps (tools/bench_cdc_batch.py)."""
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _commit_state(io: TableIO) -> dict | None:
    text = io.read_text(COMMIT_MARKER)
    return json.loads(text) if text is not None else None


def read_current(io: TableIO, name: str) -> DataFrame:
    """Read the committed version of a streamed graph table ('nodes' or
    'edges').  Resolution goes through the commit marker, so a fold that
    crashed mid-write is invisible."""
    state = _commit_state(io)
    if state is None:
        raise FileNotFoundError(f"no committed stream state under {io.base}")
    return io.read(f"{name}__v{state['version']}")


def gc_graph_version(io: TableIO, version: int) -> None:
    """Delete a superseded ``nodes__v{k}``/``edges__v{k}`` pair.  Only
    ever called on versions at least two behind the committed marker, so
    correctness never depends on it — the folds' storage stays O(graph)
    instead of O(graph × batches).  Shared by the append-only and CDC
    sinks so the GC half of the commit protocol has ONE definition."""
    if version < 0:
        return
    for name in (
        f"nodes__v{version}",
        f"edges__v{version}",
        f"components__v{version}",
        f"salience__v{version}",
        f"communities__v{version}",
        f"claims__v{version}",
    ):
        try:
            io.delete(name)
        except Exception:
            pass


def fold_batch(
    io: TableIO, batch_df: DataFrame, cfg: PipelineConfig, epoch_id: int, lineage: str = ""
) -> None:
    """One micro-batch → graph union, committed as a unit.

    Writes nodes+edges to fresh ``__v{k+1}`` tables (never overwriting
    the ``__v{k}`` inputs — no localCheckpoint needed), then publishes
    both with one marker write.  Replays of an already-committed epoch
    (same lineage, epoch ≤ committed) are skipped, making the sink
    idempotent across crash/restart at any point."""
    state = _commit_state(io)
    if (
        state is not None
        and state.get("lineage") == lineage
        and int(epoch_id) <= int(state.get("epoch", -1))
    ):
        return  # replay of a fully-committed batch
    k = int(state["version"]) if state is not None else -1
    stages = build_graph(batch_df, replace(cfg, persist_intermediate=True))
    new_nodes = stages["nodes"].persist()
    new_edges = stages["edges"].persist()
    if k >= 0:
        merged_nodes = incremental_union_nodes(io.read(f"nodes__v{k}"), new_nodes)
        merged_edges = incremental_union_edges(io.read(f"edges__v{k}"), new_edges)
    else:
        merged_nodes, merged_edges = new_nodes, new_edges
    io.write(merged_nodes, f"nodes__v{k + 1}")
    io.write(merged_edges, f"edges__v{k + 1}")
    # single-file marker write = the atomic commit of BOTH tables
    io.write_text(
        COMMIT_MARKER,
        json.dumps({"lineage": lineage, "epoch": int(epoch_id), "version": k + 1}),
    )
    new_nodes.unpersist()
    new_edges.unpersist()
    stages["split_records"].unpersist()
    gc_graph_version(io, k - 1)


def run_incremental(
    spark: SparkSession,
    input_dir: str,
    io: TableIO,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    available_now: bool = True,
):
    """Start (and with available_now=True, drain) the incremental fold."""
    cfg = cfg or PipelineConfig(chunk_size=128, chunk_overlap=16, tokenizer="ws")
    stream = stream_transcripts(spark, input_dir)
    # the checkpoint location IS the batch-id lineage (batch ids are
    # persisted there), so it doubles as the idempotence app-id
    fold = lambda df, epoch: fold_batch(io, df, cfg, epoch, lineage=checkpoint_dir)  # noqa: E731
    writer = stream.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


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
