"""Incremental graph union — resumable multi-run merges (G5/G6).

Reference analogues:
- Extract-stage union (reference utils/graph.py:68-115): old ∪ new; on
  node collision ONLY source_id (comma-concatenated) and description
  (``Old Information---\\n{old}\\nNew Information---\\n{new}``) are
  updated — type keeps the OLD value (graph.py:88-91 touches only those
  two keys).  Edge collision uses the shorter ``Old---/New---`` frame
  (graph.py:107-108) and likewise keeps the OLD weight.
- Cluster-stage union (reference utils/graph.py:119-177): collision →
  new attributes win wholesale (dict.update), old identity kept; the
  per-run JSON delta files become the returned (added, updated) frames —
  on Iceberg this whole operator is one MERGE INTO + snapshot diff.

Shape: one full-outer join on the entity key — shuffle on both sides
keyed by name (AQE skew-handles hot entities), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _framed(old_col, new_col, old_tag="Old Information---\n", new_tag="\nNew Information---\n"):
    return F.concat(F.lit(old_tag), old_col, F.lit(new_tag), new_col)


def incremental_union_nodes(old: DataFrame, new: DataFrame) -> DataFrame:
    """Extract-stage node union.  On collision, ONLY description (framed)
    and source_id (old-first concat) are updated; type keeps the old
    value (reference utils/graph.py:88-91)."""
    o = old.select(
        "title",
        F.col("type").alias("_ot"),
        F.col("description").alias("_od"),
        F.col("source_id").alias("_os"),
    )
    n = new.select(
        "title",
        F.col("type").alias("_nt"),
        F.col("description").alias("_nd"),
        F.col("source_id").alias("_ns"),
    )
    j = o.join(n, "title", "full_outer")
    both = F.col("_od").isNotNull() & F.col("_nd").isNotNull()
    return j.select(
        "title",
        F.coalesce("_ot", "_nt").alias("type"),  # old wins on collision
        F.when(both, _framed(F.col("_od"), F.col("_nd")))
        .otherwise(F.coalesce("_nd", "_od"))
        .alias("description"),
        F.when(both, F.concat("_os", "_ns"))
        .otherwise(F.coalesce("_ns", "_os"))
        .alias("source_id"),
    )


def incremental_union_edges(old: DataFrame, new: DataFrame) -> DataFrame:
    """Extract-stage edge union on the canonical (source, target) pair.
    Collision: ``Old---/New---`` framed description + source-id concat;
    weight keeps the old value (reference utils/graph.py:104-108 updates
    only source_id and description)."""
    o = old.select(
        "source",
        "target",
        F.col("weight").alias("_ow"),
        F.col("description").alias("_od"),
        F.col("text_unit_ids").alias("_os"),
    )
    n = new.select(
        "source",
        "target",
        F.col("weight").alias("_nw"),
        F.col("description").alias("_nd"),
        F.col("text_unit_ids").alias("_ns"),
    )
    j = o.join(n, ["source", "target"], "full_outer")
    both = F.col("_od").isNotNull() & F.col("_nd").isNotNull()
    return j.select(
        "source",
        "target",
        F.coalesce("_ow", "_nw").alias("weight"),  # old wins on collision
        F.when(both, _framed(F.col("_od"), F.col("_nd"), "Old---\n", "\nNew---\n"))
        .otherwise(F.coalesce("_nd", "_od"))
        .alias("description"),
        F.when(both, F.concat("_os", "_ns"))
        .otherwise(F.coalesce("_ns", "_os"))
        .alias("text_unit_ids"),
    )


def cluster_union(
    old: DataFrame, new: DataFrame, key: list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cluster-stage union: (merged, added, updated).

    merged: new attribute values win on collision, old-only rows kept;
    added: keys only in new; updated: collided keys whose attributes
    changed (the reference's per-run JSON delta, reference
    utils/graph.py:180-203)."""
    value_cols = [c for c in new.columns if c not in key]
    merged = old.join(new.select(key).withColumn("__n", F.lit(1)), key, "left_anti").unionByName(
        new
    )
    added = new.join(old.select(key), key, "left_anti")
    collided = new.alias("n").join(old.alias("o"), key, "inner")
    changed = collided.filter(
        ~F.struct(*[F.col(f"n.{c}") for c in value_cols]).eqNullSafe(
            F.struct(*[F.col(f"o.{c}") for c in value_cols])
        )
    ).select("n.*")
    return merged, added, changed


def retained(records: DataFrame, deleted: DataFrame) -> DataFrame:
    """The rows of ``records`` whose conversation is not in ``deleted``
    (one conv_id-keyed anti-join; broadcast when the delete set is
    small)."""
    return records.join(deleted.select("conv_id").distinct(), "conv_id", "left_anti")


def retract_conversations(
    raw_records: DataFrame, deleted: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Right-to-be-forgotten retraction: (nodes, edges) with every
    contribution from ``deleted`` conversations removed — WITHOUT
    re-running extraction.

    The inverse of the incremental union (reference utils/graph.py:68-177
    only ever ADDS; at corpus scale deletes arrive too — user-data
    removal, contaminated-source takedowns).  Re-extracting the retained
    corpus would repeat the most expensive stage (the Arrow extraction
    UDF); but the merge is a pure function of the per-chunk record
    stream, and extraction is per-chunk independent, so retraction is
    one anti-join on the PERSISTED ``raw_records`` intermediate followed
    by the standard merge — bit-identical to a full rebuild on the
    retained transcripts (the ``kg_retract`` gate proves this equality
    cross-engine against the DuckDB pipeline oracle).

    Scale shape: one anti-join keyed on ``conv_id`` (broadcast when the
    delete set is small — the common case; AQE decides) + the usual
    name-keyed merge shuffle.  On Iceberg tables the same record-level
    anti-join drives a MERGE INTO/DELETE and the node/edge tables are
    re-derived from the surviving records partition-locally.
    """
    from .parse import parse_and_merge

    return parse_and_merge(retained(raw_records, deleted))
