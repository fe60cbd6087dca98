"""Query-side (read model) operators — SURVEY.md §2.10.

The reference's local/global search builds token-budgeted LLM context
from the materialized tables (reference query/*); the dataflow pieces —
entity mapping, relationship ranking, community weighting — are
re-expressed here as DataFrame operators over the construction outputs.
The LLM call itself is out of scope (north rule replaces reports/search
generation with deterministic renderings).

- Q1 entity mapping (reference query/system_prompt_builder/
  entity_extraction.py:30-81): vector top-k with rank fallback for the
  empty query → `map_query_to_entities` (delegates to similarity.* for
  the vector path; rank path = degree order).
- Q2 in/out-network relationship selection (reference
  query/inputs/retrieval/relationships.py:12-59 and
  relationship_context.py:88-175): edges among selected entities vs
  edges leaving the selection, out-network ranked by (external-endpoint
  link count desc, rank desc).
- Q3 combined rank: source.rank + target.rank — graphops.with_edge_rank.
- Q5 community weight (reference community_context.py:153-190): count
  of distinct text units covered by member entities, normalized by max.
- Q6 text-unit ranking (reference combine_context.py:230-274): order
  text units by (first-entity order, -#relationships).

All are joins/groupBys/windows on community- or entity-keyed tables —
no UDFs, broadcast-sized dimension tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from knowledge_graph_spark.operators.graphops import with_global_index


def top_entities_by_rank(nodes_with_degree: DataFrame, k: int = 10) -> DataFrame:
    """Q1 fallback path: empty query → top-k entities by (degree desc,
    title) — the reference's rank-ordered default."""
    w = Window.orderBy(F.desc("degree"), F.asc("title"))
    return (
        nodes_with_degree.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("title", "degree", "rk")
    )


RRF_MICRO = 1_000_000


def rrf_fuse(
    ranked_lists: list[DataFrame],
    key: str = "title",
    k_const: int = 60,
    out_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher's RRF, the
    standard hybrid-retrieval combiner): fused score =
    Σ_lists floor(1e6 / (k + rank)).

    This is how the Q1 entity-mapping paths compose: the degree-rank
    fallback and the vector path each produce a top-k (key, rk) list;
    RRF merges them without score calibration (ranks, not raw scores, so
    a 10^6-scaled cosine and a degree count fuse cleanly).  Each term is
    one correctly-rounded division of small exact integers, floored —
    bit-identical across engines — and the inputs are top-k tables, so
    the union+groupBy shuffles a few dozen rows no matter the corpus
    size.  Returns (key, rrf_micro, n_lists, rk)."""
    parts = [
        df.select(
            F.col(key).alias("key"),
            F.floor(F.lit(RRF_MICRO) / (F.lit(k_const) + F.col("rk")))
            .cast("bigint")
            .alias("term"),
        )
        for df in ranked_lists
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scored = u.groupBy("key").agg(
        F.sum("term").cast("bigint").alias("rrf_micro"),
        F.count("*").cast("int").alias("n_lists"),
    )
    w = Window.orderBy(F.desc("rrf_micro"), F.asc("key"))
    out = scored.withColumn("rk", F.row_number().over(w).cast("int"))
    if out_k:
        out = out.filter(F.col("rk") <= out_k)
    return out.select(F.col("key").alias(key), "rrf_micro", "n_lists", "rk")


def related_entities(
    edges_ranked: DataFrame, entity: str, k: int = 10
) -> DataFrame:
    """Neighbors of one entity ordered by (weight desc, rank desc, title)
    — the M1 flagship read query ('top-k related entities of X')."""
    nbrs = edges_ranked.filter(
        (F.col("source") == entity) | (F.col("target") == entity)
    ).select(
        F.when(F.col("source") == entity, F.col("target"))
        .otherwise(F.col("source"))
        .alias("neighbor"),
        "weight",
        "rank",
    )
    w = Window.orderBy(F.desc("weight"), F.desc("rank"), F.asc("neighbor"))
    return nbrs.withColumn("rk", F.row_number().over(w).cast("int")).filter(F.col("rk") <= k)


def split_network_relationships(
    edges_ranked: DataFrame, selected: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Q2: (in_network, out_network) relative to a selected-entity set.

    in-network: both endpoints selected.  out-network: exactly one; ranked
    by (#links of the external endpoint into the selection desc, rank
    desc) like the reference's sort.  `selected` is broadcast — it is a
    query-sized set, never the big side."""
    sel = F.broadcast(selected.select(F.col("title").alias("__sel")).distinct())
    e = (
        edges_ranked.join(
            sel.withColumnRenamed("__sel", "source").withColumn("__s_in", F.lit(1)),
            "source",
            "left",
        )
        .join(
            sel.withColumnRenamed("__sel", "target").withColumn("__t_in", F.lit(1)),
            "target",
            "left",
        )
        .withColumn("__s_in", F.coalesce("__s_in", F.lit(0)))
        .withColumn("__t_in", F.coalesce("__t_in", F.lit(0)))
    )
    in_net = e.filter((F.col("__s_in") == 1) & (F.col("__t_in") == 1)).drop("__s_in", "__t_in")
    out = e.filter(F.col("__s_in") + F.col("__t_in") == 1).withColumn(
        "external", F.when(F.col("__s_in") == 0, F.col("source")).otherwise(F.col("target"))
    )
    links = out.groupBy("external").agg(F.count("*").cast("int").alias("links"))
    out_net = (
        out.join(links, "external")
        .drop("__s_in", "__t_in")
        .orderBy(F.desc("links"), F.desc("rank"), F.asc("source"), F.asc("target"))
    )
    return in_net, out_net


def community_weight(
    nodes: DataFrame, communities: DataFrame, source_col: str = "source_id"
) -> DataFrame:
    """Q5: per-community weight = count of DISTINCT text units covered by
    member entities, normalized by the max across communities."""
    member_units = (
        nodes.join(communities, "title")
        .select("community", F.explode(F.col(source_col)).alias("unit"))
    )
    w = member_units.groupBy("community").agg(
        F.countDistinct("unit").cast("int").alias("n_text_units")
    )
    mx = Window.partitionBy()
    return w.select(
        "community",
        "n_text_units",
        (F.col("n_text_units") / F.max("n_text_units").over(mx)).alias("normalized_weight"),
    )


def text_unit_backlinks(
    text_units: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    claims: DataFrame | None = None,
) -> DataFrame:
    """Text-unit backlinks (reference models/text_unit.py: entity_ids /
    relationship_ids / covariate_ids per unit), derived by INVERTING the
    provenance the construction stages already emit — node.source_id,
    edge.text_unit_ids, and claim-subject membership.  Ids are the same
    deterministic content hashes G8 stamps on the final tables.

    covariate linkage deviation (documented): reference claims carry
    per-unit provenance; this pipeline's merged covariates are
    conversation-grained, so a unit links to the covariates of the
    entities it mentions (unit → entity → claims with that subject).

    Shape: three explode→groupBy inversions keyed on text_unit_id — at
    scale each is one shuffle of (unit, id) pairs; no UDFs, no windows."""
    ent = nodes.select(
        "title",
        F.sha2(F.col("title"), 256).alias("eid"),
        F.explode("source_id").alias("text_unit_id"),
    )
    e_agg = ent.groupBy("text_unit_id").agg(
        F.array_sort(F.collect_set("eid")).alias("entity_ids")
    )
    rel = edges.select(
        F.sha2(F.concat_ws("->", "source", "target"), 256).alias("rid"),
        F.explode("text_unit_ids").alias("text_unit_id"),
    )
    r_agg = rel.groupBy("text_unit_id").agg(
        F.array_sort(F.collect_set("rid")).alias("relationship_ids")
    )
    out = (
        text_units.select(
            F.col("id").alias("text_unit_id"), "doc_id", "conv_id", "n_tokens"
        )
        .join(e_agg, "text_unit_id", "left")
        .join(r_agg, "text_unit_id", "left")
    )
    empty = F.array().cast("array<string>")
    if claims is not None:
        cov = (
            ent.join(
                claims.select(
                    F.col("subject_id").alias("title"),
                    F.sha2(F.col("subject_id"), 256).alias("cid"),
                ),
                "title",
            )
            .groupBy("text_unit_id")
            .agg(F.array_sort(F.collect_set("cid")).alias("covariate_ids"))
        )
        out = out.join(cov, "text_unit_id", "left")
    else:
        out = out.withColumn("covariate_ids", empty)
    return (
        out.withColumn("entity_ids", F.coalesce("entity_ids", empty))
        .withColumn("relationship_ids", F.coalesce("relationship_ids", empty))
        .withColumn("covariate_ids", F.coalesce("covariate_ids", empty))
    )


def rank_text_units(
    text_unit_entities: DataFrame, entity_order: DataFrame
) -> DataFrame:
    """Q6: text units ordered by (best entity order asc, relationship
    count desc).  text_unit_entities: (text_unit_id, title);
    entity_order: (title, entity_rank)."""
    joined = text_unit_entities.join(F.broadcast(entity_order), "title")
    agg = joined.groupBy("text_unit_id").agg(
        F.min("entity_rank").cast("int").alias("best_entity_rank"),
        F.count("*").cast("int").alias("n_entities"),
    )
    # Two-phase global index instead of a partitionless Window.orderBy:
    # the reference bounds the input to the top-k entities' units, but
    # nothing in this signature enforces that, so a whole-corpus caller
    # must not funnel through one task.  desc(n_entities) is expressed as
    # asc(-n_entities); text_unit_id is unique, so the index is identical
    # to the row_number it replaces.
    ranked = with_global_index(
        agg.withColumn("__neg_n", (-F.col("n_entities")).cast("int")),
        ["best_entity_rank", "__neg_n", "text_unit_id"],
        out_col="__order0",
    )
    return ranked.withColumn("order", (F.col("__order0") + 1).cast("int")).drop(
        "__neg_n", "__order0"
    )
