"""Community detection and canonicalization graph algorithms.

Reference analogues:
- Stable LCC (reference utils/graph.py:15-20 via graspologic
  largest_connected_component) → ``connected_components`` + keep max.
- Hierarchical Leiden (reference
  verbs/community_detection/clustering/leiden.py:45-61, max_cluster_size=10,
  seed=6969) → replaced per the north rule with **label propagation**
  implemented as iterative DataFrame joins (graphframes is not a
  dependency); hierarchy is emulated by re-running LPA inside oversized
  communities (``hierarchical_lpa``).
- Apply-clustering (reference cluster_graph.py:41-53) → a join.

Determinism: both algorithms are synchronous fixpoint iterations with
total-order tie-breaks (lexicographic min), so results are independent of
partitioning and shuffle order — no seeds needed.

Scale notes:
- min-label CC converges in O(graph diameter) rounds; each round is one
  shuffle join keyed on the node id.  ``localCheckpoint`` every round cuts
  the lineage chain (SURVEY.md §7 risk 4).  Entity graphs are short-diameter
  (hot entities act as hubs), so rounds stay single-digit in practice.
- LPA's per-round aggregation is weighted-mode over neighbor labels —
  groupBy(node, label).sum(weight) then argmax via max_by; two shuffles per
  round, both on node id.  AQE handles hub-node skew.
"""

from __future__ import annotations

import time
from collections import defaultdict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..partitioning import checkpoint_fresh

# Graphs whose EDGE LIST fits comfortably on the driver skip the
# iterative-join path: per-round shuffle+checkpoint overhead (seconds per
# round regardless of data size) dwarfs the actual work below this size.
# The local algorithms implement the IDENTICAL fixpoints (min-label /
# weighted-mode with min-label tie-break), so results are byte-equal to
# the distributed path — this is a physical-plan choice, not a semantic
# one (GraphFrames applies the same small-graph cutover idea).
LOCAL_EDGE_THRESHOLD = 200_000


def _symmetric(edges: DataFrame, src: str, dst: str, weight: str | None) -> DataFrame:
    cols = [F.col(src).alias("a"), F.col(dst).alias("b")]
    if weight:
        cols.append(F.col(weight).alias("w"))
    fwd = edges.select(*cols)
    back_cols = [F.col(dst).alias("a"), F.col(src).alias("b")]
    if weight:
        back_cols.append(F.col(weight).alias("w"))
    return fwd.unionByName(edges.select(*back_cols))


def _cc_local(node_ids: list, edge_pairs: list) -> dict:
    """Union-find; component label = min member (same fixpoint as the
    distributed min-label propagation)."""
    parent: dict = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_pairs:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in node_ids}


def _lpa_local(
    node_ids: list, weighted_edges: list, max_iter: int, init: dict | None = None
) -> dict:
    """Synchronous weighted LPA with (max score, min label) argmax —
    identical update rule to the iterative-join path.  ``init`` warm-starts
    round 0 from prior labels (missing nodes self-label)."""
    adj: dict = defaultdict(list)
    for a, b, w in weighted_edges:
        adj[a].append((b, w))
        adj[b].append((a, w))
    labels = {n: init.get(n, n) for n in node_ids} if init else {n: n for n in node_ids}
    for _ in range(max_iter):
        scores: dict = {}
        for n in node_ids:
            s: dict = defaultdict(float)
            for m, w in adj.get(n, ()):
                s[labels[m]] += w
            if s:
                mx = max(s.values())
                scores[n] = min(l for l, v in s.items() if v == mx)
            else:
                scores[n] = labels[n]
        if scores == labels:
            break
        labels = scores
    return labels


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "title",
    src: str = "source",
    dst: str = "target",
    max_iter: int = 50,
    local_threshold: int = LOCAL_EDGE_THRESHOLD,
    round_log: list | None = None,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """(title, component) where component = lexicographic-min reachable
    node id — the fixpoint of min-label propagation.  Matches the recursive
    min-reachability SQL oracle exactly.

    ``round_log``, when supplied, receives one wall-clock seconds entry
    per executed round (each round ends in an eager localCheckpoint, so
    the entry measures real work, not plan construction) — the
    graph-scale bench's per-round evidence.

    ``init_labels`` warm-starts the iteration from a prior run's
    ``(node_col, component)`` output — the incremental-maintenance path:
    under MONOTONE growth (edges/nodes only added since the labels were
    computed, the CDC insert case; after deletes use
    ``merge.retract_conversations`` + a cold start instead), every old
    component id is still a reachable node id, so min-label propagation
    converges to the IDENTICAL init-independent fixpoint (min reachable
    id) — but in O(log diameter-of-the-delta) rounds instead of
    O(log diameter): unchanged regions are already at their fixpoint and
    the per-round changed-row frontier collapses to the delta's
    neighborhood.  Nodes absent from ``init_labels`` self-label."""
    spark = nodes.sparkSession
    if local_threshold and edges.limit(local_threshold + 1).count() <= local_threshold:
        # the local twin computes the same init-independent fixpoint from
        # scratch — warm labels can't speed up union-find
        node_ids = [r[0] for r in nodes.select(node_col).distinct().collect()]
        pairs = [(r[0], r[1]) for r in edges.select(src, dst).collect()]
        comp = _cc_local(node_ids, pairs)
        return spark.createDataFrame(
            sorted(comp.items()), schema=f"{node_col} string, component string"
        )
    adj = _symmetric(edges, src, dst, None).distinct()
    if init_labels is not None:
        prior = init_labels.select(
            F.col(node_col).alias("node"), F.col("component").alias("init_comp")
        )
        labels = (
            nodes.select(F.col(node_col).alias("node"))
            .join(prior, "node", "left")
            .select("node", F.coalesce("init_comp", F.col("node")).alias("comp"))
        )
    else:
        labels = nodes.select(
            F.col(node_col).alias("node"), F.col(node_col).alias("comp")
        )
    labels = checkpoint_fresh(labels)
    for _ in range(max_iter):
        _t0 = time.perf_counter()
        nbr = (
            adj.join(labels.select(F.col("node").alias("b"), "comp"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr, labels["node"] == nbr["a"], "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
        )
        # pointer doubling (path shortcut): comp := comp's comp.  Plain
        # min-label propagation needs O(diameter) rounds — a chain of n
        # nodes takes n rounds; with the shortcut label chains halve each
        # round, so convergence is O(log diameter) shuffles (the trick
        # behind large/small-star CC).
        parent = stepped.select(F.col("node").alias("p_node"), F.col("comp").alias("p_comp"))
        new_labels = (
            stepped.join(parent, stepped["comp"] == parent["p_node"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("p_comp", "comp")).alias("comp"),
            )
            .transform(checkpoint_fresh)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if round_log is not None:
            round_log.append(time.perf_counter() - _t0)
        if changed == 0:
            break
    return labels.select(F.col("node").alias(node_col), F.col("comp").alias("component"))


def largest_component(components: DataFrame, node_col: str = "title") -> DataFrame:
    """Membership of the largest connected component (reference stable-LCC
    G2).  Ties broken by min component id for determinism."""
    sizes = components.groupBy("component").agg(F.count("*").alias("n"))
    top = (
        sizes.orderBy(F.desc("n"), F.asc("component")).limit(1).select("component")
    )
    return components.join(F.broadcast(top), "component").select(node_col, "component")


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "title",
    src: str = "source",
    dst: str = "target",
    weight: str = "weight",
    max_iter: int = 10,
    local_threshold: int = LOCAL_EDGE_THRESHOLD,
    round_log: list | None = None,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Weighted synchronous LPA → (title, community).

    Per round, every node adopts the label with the highest total incident
    edge weight among its neighbors (its own current label wins ties only
    through the lexicographic-min rule).  Deterministic: argmax is
    max_by(struct(total_weight, desc-lexicographic label)) with an explicit
    tie-break, so no dependence on aggregation order.

    ``init_labels`` warm-starts round 0 from a prior ``(node_col,
    community)`` assignment instead of self-labels — the incremental
    re-clustering path after a CDC insert batch: unlike CC, LPA's result
    DOES depend on the start labels, so the contract is "``max_iter``
    synchronous rounds from the given start" (mirrored by the unrolled
    warm oracle), not convergence to a canonical partition.  Nodes absent
    from ``init_labels`` self-label; on a stable graph a converged prior
    is a fixpoint and the loop exits after one verification round."""
    spark = nodes.sparkSession
    if local_threshold and edges.limit(local_threshold + 1).count() <= local_threshold:
        node_ids = [r[0] for r in nodes.select(node_col).distinct().collect()]
        wedges = [(r[0], r[1], float(r[2])) for r in edges.select(src, dst, weight).collect()]
        init = (
            {r[0]: r[1] for r in init_labels.select(node_col, "community").collect()}
            if init_labels is not None
            else None
        )
        labels = _lpa_local(node_ids, wedges, max_iter, init=init)
        return spark.createDataFrame(
            sorted(labels.items()), schema=f"{node_col} string, community string"
        )
    adj = _symmetric(edges, src, dst, weight)
    if init_labels is not None:
        prior = init_labels.select(
            F.col(node_col).alias("node"), F.col("community").alias("init_label")
        )
        labels = (
            nodes.select(F.col(node_col).alias("node"))
            .join(prior, "node", "left")
            .select("node", F.coalesce("init_label", F.col("node")).alias("label"))
        )
    else:
        labels = nodes.select(
            F.col(node_col).alias("node"), F.col(node_col).alias("label")
        )
    labels = checkpoint_fresh(labels)
    for _ in range(max_iter):
        _t0 = time.perf_counter()
        scored = (
            adj.join(labels.select(F.col("node").alias("b"), "label"), "b")
            .groupBy("a", "label")
            .agg(F.sum("w").alias("score"))
        )
        # deterministic argmax — min label among the max-score candidates —
        # as a per-node top-1 window ((score desc, label asc) is a total
        # order within a node: labels are distinct group keys).  One pass:
        # Spark's WindowGroupLimit pushes the rn=1 filter into a per-node
        # top-k, vs the previous max-score self-join that aggregated the
        # scored table twice and joined the branches back together.
        wa = Window.partitionBy("a").orderBy(F.desc("score"), F.asc("label"))
        best = (
            scored.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select("a", F.col("label").alias("new_label"))
        )
        new_labels = (
            labels.join(best, labels["node"] == best["a"], "left")
            .select("node", F.coalesce("new_label", "label").alias("label"))
            .transform(checkpoint_fresh)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if round_log is not None:
            round_log.append(time.perf_counter() - _t0)
        if changed == 0:
            break
    return labels.select(F.col("node").alias(node_col), F.col("label").alias("community"))


def hierarchical_lpa(
    nodes: DataFrame,
    edges: DataFrame,
    max_cluster_size: int = 10,
    max_levels: int = 3,
    node_col: str = "title",
    **kwargs,
) -> DataFrame:
    """Emulates hierarchical clustering (reference hierarchical Leiden,
    max_cluster_size=10): level 0 = LPA on the full graph; each oversized
    community is re-clustered on its induced subgraph at the next level.

    Returns (title, community, level) with one row per node per level at
    which that node's community was (re)assigned — mirroring the
    reference's {level → node → community} map (leiden.py:12-42).
    ``kwargs`` pass through to every level's label_propagation.
    """
    out = None
    current = label_propagation(nodes, edges, node_col=node_col, **kwargs).withColumn(
        "level", F.lit(0)
    )
    for level in range(max_levels):
        out = current if out is None else out.unionByName(current)
        sizes = current.groupBy("community").agg(F.count("*").alias("n"))
        oversized = sizes.filter(F.col("n") > max_cluster_size).select("community")
        if oversized.limit(1).count() == 0:
            break
        member = current.join(F.broadcast(oversized), "community").select(
            node_col, "community"
        )
        # induced subgraph: both endpoints in the same oversized community
        e = (
            edges.join(
                member.select(F.col(node_col).alias("source"), F.col("community").alias("_cs")),
                "source",
            )
            .join(
                member.select(F.col(node_col).alias("target"), F.col("community").alias("_ct")),
                "target",
            )
            .filter(F.col("_cs") == F.col("_ct"))
            .drop("_cs", "_ct")
        )
        sub_nodes = member.select(node_col)
        relabel = label_propagation(sub_nodes, e, node_col=node_col, **kwargs)
        # qualify labels so communities from different parents never merge
        current = (
            relabel.join(member.select(node_col, F.col("community").alias("parent")), node_col)
            .select(
                node_col,
                F.concat_ws("/", "parent", "community").alias("community"),
            )
            .withColumn("level", F.lit(level + 1))
        )
    return out


def apply_clustering(nodes: DataFrame, communities: DataFrame, level: int = 0) -> DataFrame:
    """Stamp community/level onto the node table (reference
    cluster_graph.py:41-53; exported level defaults to 0, config.py:47)."""
    chosen = communities.filter(F.col("level") == level).select("title", "community")
    return (
        nodes.join(chosen, "title", "left")
        .withColumn("level", F.lit(level))
    )
