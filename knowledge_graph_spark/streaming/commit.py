"""The versioned single-marker commit protocol every streaming sink uses.

Each ``foreachBatch`` sink under ``streaming/`` folds a micro-batch into
tables it owns and must stay exactly-once across crash and restart.  The
sinks do it the way Delta's ``txnAppId``/``txnVersion`` writer does:

- a fold reads the committed version ``k`` of its tables and writes the
  result to NEW tables ``{name}__v{k+1}`` (never overwriting what it
  read);
- then it publishes all of them with ONE small marker write
  ``{"version": k+1, "epochs": {lineage: epoch, ...}, **fields}``;
- a crash before the marker leaves ``v{k}`` intact, so the replayed
  batch redoes the fold as a unit; a replayed epoch at or below the
  committed epoch of its lineage is skipped (``committed``).

A lineage is a stream's checkpoint location, where Spark persists its
batch ids.  The marker keeps one epoch per lineage, so several streams
(the CDC sink's insert and delete queries, or a stream restarted on a
fresh checkpoint) can commit into one marker without mistaking each
other's epochs for replays.  ``gc`` deletes a version two behind the
marker; correctness never depends on it, it keeps storage O(state)
instead of O(state x batches).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..io import TableIO

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def file_stream(
    spark: SparkSession, ddl: str, input_dir: str, max_files: int = 64
) -> DataFrame:
    """Parquet file-source stream; ``max_files`` per trigger sets the
    micro-batch size (files x rows-per-file)."""
    return (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def state(io: TableIO, marker: str) -> dict:
    """The committed marker; version -1 with no epochs before any commit."""
    text = io.read_text(marker)
    return json.loads(text) if text is not None else {"version": -1, "epochs": {}}


def committed(state: dict, lineage: str, epoch: int) -> bool:
    """True for a replay of an epoch this lineage already committed."""
    return int(epoch) <= state["epochs"].get(lineage, -1)


def publish(
    io: TableIO,
    marker: str,
    state: dict,
    lineage: str,
    epoch: int,
    version: int,
    **fields,
) -> None:
    """Commit ``version`` of every table the fold wrote, in one write."""
    epochs = {**state["epochs"], lineage: int(epoch)}
    io.write_text(
        marker, json.dumps({"version": version, **fields, "epochs": epochs})
    )


def read_current(io: TableIO, marker: str, name: str) -> DataFrame:
    """The committed version of table ``name``.  Resolution goes through
    the marker, so a fold that crashed mid-write is invisible."""
    version = state(io, marker)["version"]
    # version -1 also covers a marker that only no-op folds committed
    # (a CDC delete that arrived before any insert)
    if version < 0:
        raise FileNotFoundError(f"no committed {marker} state under {io.base}")
    return io.read(f"{name}__v{version}")


def gc(io: TableIO, names, version: int) -> None:
    """Delete the superseded ``{name}__v{version}`` tables.  ``io.delete``
    ignores a table that was never written."""
    if version < 0:
        return
    for name in names:
        io.delete(f"{name}__v{version}")


def drain(df: DataFrame, fold: Callable[[DataFrame, int], None], checkpoint: str) -> None:
    """Run ``fold(batch_df, epoch_id)`` over every file present now
    (availableNow trigger) and wait until the stream has drained."""
    (
        df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
