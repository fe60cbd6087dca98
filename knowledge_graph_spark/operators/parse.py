"""Stage 4 — record parsing and graph-merge normalization (E3).

Faithful re-expression of the reference's parser+merger
(reference graph/extractors/graph_extractor.py:180-292) as declarative
DataFrame algebra instead of a sequential nx.Graph build:

- split on record delimiter ``##``, trim, strip ONE layer of outer parens
  (reference :200), split fields on tuple delimiter ``<|>`` (reference :201);
- ``"entity"`` records need >= 4 fields (reference :203): name/type
  uppercased + clean_str (reference :205-207);
- ``"relationship"`` records need >= 5 fields (reference :239-242): weight =
  float(LAST field) with fallback 1.0 on parse failure (reference :248-251);
- node dedup by name: descriptions set-unioned (sorted here — the
  reference's Python-set order is nondeterministic, and its own
  summarization stage re-sorts at description_summarize.py:34), source ids
  set-unioned, type = last non-empty in record order (reference :228-230);
- edge endpoints auto-created as empty nodes (reference :253-266);
- undirected edge dedup: nx.Graph treats (A,B)==(B,A), so the group key is
  the canonical (least, greatest) pair; weights SUM across duplicates
  (reference :267-290).

Determinism: every collect_set is array_sorted before join; "last non-empty"
uses max_by over an explicit (conv_id, text_unit_id, rec_idx) record
ordinal, so results are independent of shuffle order.

Scale: the name groupBy is Zipf-skewed (hot entities appear in most turns).
Default merge is the salted two-phase (north-star strategy); fair A/B at
local[32] (tools/bench_skew.py, warmed, best-of-2) puts it within ~1.4×
of the single-phase `merge_nodes_single` in either direction depending on
provenance cardinality — Spark's map-side partial collect_set already
combines hot keys per input partition, so the salt's remaining value is
splitting the hot key's shuffle fan-in on real clusters.  The hot-key
MEMORY lever is ``max_source_ids`` (provenance cap) since the final
per-key set materializes on one reducer under either strategy; AQE skew
handling covers the join side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import clean_name, clean_str_col, parse_weight, strip_outer_parens
from .extract import COMPLETION, RECORD_DELIM

_TUPLE_SPLIT = r"<\|>"  # regex-escaped TUPLE_DELIM
N_SALTS = 16


def split_records(raw_records: DataFrame) -> DataFrame:
    """RAW_RECORDS → one row per parsed record with a stable ordinal.

    Columns: conv_id, text_unit_id, rec_idx, rtype, fields(array<string>).
    """
    recs = raw_records.select(
        "conv_id",
        "text_unit_id",
        F.posexplode(F.split("records", RECORD_DELIM)).alias("rec_idx", "rec"),
    )
    fields = F.split(strip_outer_parens(F.col("rec")), _TUPLE_SPLIT)
    return recs.select(
        "conv_id",
        "text_unit_id",
        "rec_idx",
        F.element_at(fields, 1).alias("rtype"),
        fields.alias("fields"),
    ).filter(F.col("rtype") != COMPLETION)


def parse_entities(records: DataFrame) -> DataFrame:
    """Entity records → (name, type, description, text_unit_id, ordinal)."""
    e = records.filter((F.col("rtype") == '"entity"') & (F.size("fields") >= 4))
    return e.select(
        "conv_id",
        "text_unit_id",
        "rec_idx",
        clean_name(F.element_at("fields", 2)).alias("name"),
        clean_name(F.element_at("fields", 3)).alias("type"),
        clean_str_col(F.element_at("fields", 4)).alias("description"),
    )


def parse_relationships(records: DataFrame) -> DataFrame:
    """Relationship records → (source, target, description, weight, ...).

    Weight parses the LAST field like the reference (float() with 1.0
    fallback); Spark's double cast accepts the same plain-numeric forms.
    """
    r = records.filter((F.col("rtype") == '"relationship"') & (F.size("fields") >= 5))
    return r.select(
        "conv_id",
        "text_unit_id",
        "rec_idx",
        clean_name(F.element_at("fields", 2)).alias("source"),
        clean_name(F.element_at("fields", 3)).alias("target"),
        clean_str_col(F.element_at("fields", 4)).alias("description"),
        parse_weight(F.element_at("fields", -1)).alias("weight"),
    )


def _ordinal() -> Column:
    """Stable global record order: (conv_id, text_unit_id, rec_idx) —
    unique per record, shuffle-independent."""
    return F.struct(F.col("conv_id"), F.col("text_unit_id"), F.col("rec_idx"))


def _merged_node_columns(merged: DataFrame, max_source_ids: int | None) -> DataFrame:
    """Node columns from the merged (name, descs, sids, last_type) groups:
    the last non-empty type, the sorted descriptions joined by newline,
    and the (optionally capped) sorted source ids."""
    sids = F.col("sids") if max_source_ids is None else F.slice("sids", 1, max_source_ids)
    merged = merged.withColumn("source_id", sids)
    return merged.select(
        F.col("name").alias("title"),
        F.coalesce(F.col("last_type.type"), F.lit("")).alias("type"),
        # drop empty descriptions contributed by auto-created endpoints when
        # a real description exists; join like the reference ("\n")
        F.concat_ws(
            "\n",
            F.when(
                F.size(F.filter(F.col("descs"), lambda d: d != F.lit(""))) > 0,
                F.filter(F.col("descs"), lambda d: d != F.lit("")),
            ).otherwise(F.col("descs")),
        ).alias("description"),
        "source_id",
    )


def merge_nodes_single(
    entities: DataFrame,
    auto_nodes: DataFrame | None = None,
    max_source_ids: int | None = None,
) -> DataFrame:
    """Single-groupBy variant of merge_nodes (one shuffle).

    Spark's ObjectHashAggregate partial-aggregates collect_set map-side,
    so this is within ~1.4× of the salted default either way at local
    scale (tools/bench_skew.py; which side wins depends on provenance
    cardinality).  Kept as the A/B arm and for pipelines that prefer the
    simpler plan.  ``max_source_ids`` caps the provenance list — the
    lever that actually bounds hot-key reducer memory under EITHER
    strategy."""
    base = entities.select("name", "type", "description", "source_id", "ord")
    if auto_nodes is not None:
        base = base.unionByName(auto_nodes)

    merged = base.groupBy("name").agg(
        F.array_sort(F.collect_set("description")).alias("descs"),
        F.array_sort(F.collect_set("source_id")).alias("sids"),
        F.max(F.when(F.col("type") != "", F.struct("ord", "type"))).alias("last_type"),
    )
    return _merged_node_columns(merged, max_source_ids)


def merge_nodes(
    entities: DataFrame,
    auto_nodes: DataFrame | None = None,
    max_source_ids: int | None = None,
) -> DataFrame:
    """Dedup entities by name with the reference merge semantics
    (default: salted two-phase, the north-star skew strategy).

    Phase 1 groups on (name, salt) so a hot name's row stream spreads
    across N_SALTS reducers; phase 2 merges the partials.  Fair A/B
    (tools/bench_skew.py, warmed, best-of-2, 16M rows / 50%-hot key):
    salted 2.4s vs single-phase 3.4s with repeated provenance ids, and
    2.5s vs 1.9s with unique ids — a wash locally because Spark already
    partial-aggregates map-side; on a real cluster the salt additionally
    splits the hot key's shuffle fan-in across reducers (straggler/
    network-hotspot control).  ``max_source_ids`` caps the provenance
    list — the lever that bounds final per-key reducer memory under
    either strategy."""
    base = entities.select("name", "type", "description", "source_id", "ord")
    if auto_nodes is not None:
        base = base.unionByName(auto_nodes)
    salted = base.withColumn("salt", F.pmod(F.xxhash64("source_id"), F.lit(N_SALTS)))
    partial = salted.groupBy("name", "salt").agg(
        F.collect_set("description").alias("descs"),
        F.collect_set("source_id").alias("sids"),
        F.max(F.when(F.col("type") != "", F.struct("ord", "type"))).alias("last_type"),
    )
    merged = partial.groupBy("name").agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("descs")))).alias("descs"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("sids")))).alias("sids"),
        F.max("last_type").alias("last_type"),
    )
    return _merged_node_columns(merged, max_source_ids)


def merge_edges(relationships: DataFrame) -> DataFrame:
    """Canonical undirected edges with summed weights.

    Group key is (least, greatest) of the endpoint names — nx.Graph's
    unordered-pair identity (SURVEY.md G3) — without which duplicate
    reversed edges double-count weight.
    """
    canon = relationships.select(
        F.least("source", "target").alias("source"),
        F.greatest("source", "target").alias("target"),
        "description",
        "weight",
        F.col("text_unit_id").alias("source_id"),
    )
    return canon.groupBy("source", "target").agg(
        F.sum("weight").alias("weight"),
        F.concat_ws("\n", F.array_sort(F.collect_set("description"))).alias("description"),
        F.array_sort(F.collect_set("source_id")).alias("text_unit_ids"),
    )


def auto_endpoint_nodes(relationships: DataFrame) -> DataFrame:
    """Relationship endpoints as empty node contributions, one row per
    endpoint occurrence with its record ordinal (reference :253-266
    auto-creates missing endpoints).  The reference's rule is
    order-dependent: an endpoint node is created — carrying the edge's
    source id — only by the FIRST record that touches it; edges touching
    an existing node add nothing.  ``parse_and_merge`` applies that rule
    exactly over the stable record order (min-ord occurrence per name,
    kept only when it precedes the name's first entity declaration); the
    vendored sequential oracle mirrors it (oracle.py:78-86).  Empty
    type/description lose every merge against declared entities."""
    return relationships.select(
        F.explode(F.array("source", "target")).alias("name"),
        F.lit("").alias("type"),
        F.lit("").alias("description"),
        F.col("text_unit_id").alias("source_id"),
        _ordinal().alias("ord"),
    )


def parse_and_merge(
    raw_records: DataFrame,
    persist_intermediate: bool = False,
    records_out: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """RAW_RECORDS → (nodes, edges) with full reference merge semantics.

    ``persist_intermediate=True`` caches the exploded record table that
    BOTH outputs branch from (and that the merge's ~19 parse/ordinal
    branches each scan), so a caller that materializes nodes and edges
    as separate actions (the checkpointed job driver, the stage hub)
    parses the record stream once instead of per branch.  When also
    given ``records_out``, the cached frame is stashed under
    ``records_out["split_records"]`` so bounded-lifetime callers (the
    CDC micro-batch folds) can unpersist it after their writes."""
    records = split_records(raw_records)
    if persist_intermediate:
        records = records.persist()
        if records_out is not None:
            records_out["split_records"] = records
    entities = parse_entities(records)
    rels = parse_relationships(records)
    ent_with_ord = entities.withColumn("ord", _ordinal()).select(
        "name", "type", "description", F.col("text_unit_id").alias("source_id"), "ord"
    )
    # reference-exact endpoint auto-create (graph_extractor.py:253-266):
    # only a name's FIRST edge occurrence (min ord) can create the node,
    # and only when no entity declaration precedes it in record order.
    # Both joins key on name — the same key as the merge shuffle.
    auto_first = (
        auto_endpoint_nodes(rels)
        .groupBy("name")
        .agg(
            F.min("ord").alias("ord"),
            F.min_by("source_id", "ord").alias("source_id"),
        )
        .select(
            "name",
            F.lit("").alias("type"),
            F.lit("").alias("description"),
            "source_id",
            "ord",
        )
    )
    first_decl = ent_with_ord.groupBy("name").agg(F.min("ord").alias("_decl_ord"))
    auto_kept = (
        auto_first.join(first_decl, "name", "left")
        .filter(F.col("_decl_ord").isNull() | (F.col("ord") < F.col("_decl_ord")))
        .drop("_decl_ord")
    )
    nodes = merge_nodes(ent_with_ord, auto_nodes=auto_kept)
    edges = merge_edges(rels)
    return nodes, edges
