"""Graph finishing operators: degree, edge rank, stable ids, LCC.

Reference analogues:
- degree: ``graph.degree`` stamped on nodes (reference
  verbs/community_detection/cluster_graph.py:56-57) — here an explode +
  two-phase count over the edge list.
- edge combined degree "rank" = source_degree + target_degree (reference
  verbs/community_summarization/prepare_report/compute_edge_degree.py:11-54)
  — two broadcast joins of the (small) degree table onto edges.
- human_readable_id: enumerate in stable name order (reference
  cluster_graph.py:60-68 uses enumerate + a seeded uuid; we use
  row_number over an explicit orderBy + content-hash ids — deterministic
  and resume-safe, see SURVEY.md G8).
- largest connected component (reference utils/graph.py:15-20,
  graspologic largest_connected_component) — via connected_components in
  operators/community.py.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def node_degrees(edges: DataFrame) -> DataFrame:
    """(title, degree) from the canonical edge list.  Self-loops count once
    per endpoint appearance (nx.Graph counts a self-loop as degree 2; the
    reference pipeline never produces self-loops because co-occurrence
    pairs are i<j, so both conventions coincide here)."""
    return (
        edges.select(F.explode(F.array("source", "target")).alias("title"))
        .groupBy("title")
        .agg(F.count("*").cast("int").alias("degree"))
    )


def with_edge_rank(edges: DataFrame, degrees: DataFrame) -> DataFrame:
    """Attach source_degree / target_degree / rank (their sum) to edges.

    The degree table is tiny relative to edges (|V| << |E| at scale), so
    both joins are explicitly broadcast — no shuffle of the edge list.
    """
    deg = F.broadcast(degrees)
    src = deg.select(F.col("title").alias("source"), F.col("degree").alias("source_degree"))
    tgt = deg.select(F.col("title").alias("target"), F.col("degree").alias("target_degree"))
    return (
        edges.join(src, "source", "left")
        .join(tgt, "target", "left")
        .withColumn("source_degree", F.coalesce("source_degree", F.lit(0)))
        .withColumn("target_degree", F.coalesce("target_degree", F.lit(0)))
        .withColumn("rank", (F.col("source_degree") + F.col("target_degree")).cast("int"))
    )


def with_global_index(
    df: DataFrame, order_cols: list, out_col: str = "human_readable_id"
) -> DataFrame:
    """0-based dense global index in (order_cols) order WITHOUT a
    single-partition window — the two-phase pattern:

    1. range-partition on the order key, local ``row_number`` per
       partition (parallel);
    2. per-partition counts → cumulative offsets (a window over
       #partitions rows — trivially small) broadcast back.

    global_index = offset(partition) + local_rank − 1.  The result is
    identical to ``row_number() over (order by …)`` for any unique order
    key, independent of where the range boundaries fall, so the output is
    hash-stable across runs and cluster sizes — but no stage funnels the
    whole table through one task (asserted in test_physical_plans.py).

    The ranked frame is persisted: the offsets subtree re-reads it, and
    WITHOUT pinning, each subtree would re-evaluate repartitionByRange
    with an independently-sampled partitioner — partition ids then
    disagree between rank and offset computation and the inner join
    silently DROPS rows (observed at sf0.1: 19 nodes → 3).  The persist
    is bounded by the table being indexed (nodes/claims/reports —
    ~|entities|, not |turns|).
    """
    ranged = df.repartitionByRange(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    local = ranged.withColumn(
        "__local", F.row_number().over(w_local).cast("long")
    ).persist()
    counts = local.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long")
    ).select("__pid", "__off")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__off") + F.col("__local") - 1)
        .drop("__pid", "__local", "__off")
    )


def with_running_sum(
    df: DataFrame, order_cols: list, val_col: str, out_col: str = "running"
) -> DataFrame:
    """Inclusive prefix sum of ``val_col`` in global (order_cols) order
    WITHOUT a single-partition window — the same two-phase pattern as
    ``with_global_index``: range-partition on the order key, local
    running sum per partition, then per-partition totals → cumulative
    offsets (a window over #partitions rows) broadcast back.

    ``order_cols`` must be a TOTAL order (include a unique tiebreak;
    express desc by negating the column) — with ties, rows sharing a key
    could land in different range partitions and the tie-internal prefix
    would be partitioner-dependent.  Identical output to
    ``sum(val) over (order by …  rows unbounded preceding)`` under that
    contract.  Same persist-pinning note as with_global_index: the
    offsets subtree re-reads the ranged frame, and an unpinned
    repartitionByRange re-samples its partitioner per subtree.  The pin
    lives until the session drops it (Spark evicts LRU blocks under
    pressure); a long-lived service issuing many corpus-scale calls
    should materialize results and `spark.catalog.clearCache()` between
    queries — same lifetime contract as with_global_index's pin."""
    ranged = df.repartitionByRange(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__lrun", F.sum(val_col).over(w_local)).persist()
    totals = local.groupBy("__pid").agg(F.sum(val_col).alias("__tot"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(w_off), F.lit(0))
    ).select("__pid", "__off")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__off") + F.col("__lrun"))
        .drop("__pid", "__lrun", "__off")
    )


def with_node_ids(nodes: DataFrame) -> DataFrame:
    """Deterministic id = sha2(title); human_readable_id = rank in stable
    name order (reference G8 enumerate-after-stable-sort semantics) via
    the two-phase global index — no single-partition Exchange even when
    |V| reaches the hundreds of millions."""
    return with_global_index(
        nodes.withColumn("id", F.sha2(F.col("title"), 256)), ["title"]
    )


def with_edge_ids(edges: DataFrame) -> DataFrame:
    return with_global_index(
        edges.withColumn("id", F.sha2(F.concat_ws("->", "source", "target"), 256)),
        ["source", "target"],
    )


PR_SCALE = 10**12
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100


def pagerank_int(
    edges: DataFrame,
    src: str = "source",
    dst: str = "target",
    iterations: int = 10,
    scale: int = PR_SCALE,
    damping_num: int = PR_DAMP_NUM,
    damping_den: int = PR_DAMP_DEN,
    symmetric: bool = True,
    round_log: list | None = None,
    weight: str | None = None,
    init_ranks: DataFrame | None = None,
    early_exit: bool = False,
) -> DataFrame:
    """Fixed-round PageRank in exact integer arithmetic → (title,
    rank_scaled) with rank as units of 1/``scale`` (default 1e-12).

    Entity salience beyond raw degree: the reference ranks entities by
    degree only (compute_edge_degree.py); PageRank is the standard
    upgrade and is a pure relational loop in Spark.  All arithmetic is
    integer (`DIV`, no libm, no float accumulation), so a fixed-round
    unrolled SQL oracle reproduces every value bit-for-bit — same
    strategy as the unrolled-LPA gates.  Quantization: each contribution
    floors away < 1 unit of 1e-12 mass; dangling nodes drop their mass
    (documented, mirrored in the oracle).

    Per round: rank'(v) = floor(scale*(1-d)/n) +
    Σ_{u→v} (rank(u)*85) DIV (100*outdeg(u)).

    Scale shape: ranks live on node rows; each round is one shuffle join
    (ranks ⋈ edges on src — edges pre-partitioned by src stay co-located
    across rounds) + one groupBy dst with map-side partial sums, then a
    left join back onto the node set.  localCheckpoint per round truncates
    the lineage so round k's plan does not replay rounds 1..k-1.
    ``symmetric=True`` mirrors the undirected KG (each edge contributes
    both ways), matching node_degrees' undirected convention.

    ``weight``: name of an edge-weight column — each neighbor then
    receives rank mass proportional to its edge's share of the source's
    total incident weight, (rank·d·w) DIV (d_den·Σw) — the natural
    salience on the merged KG whose weights are co-occurrence counts.
    Weights are floored to bigint (the KG's are integral sums of 1.0s);
    exactness requires rank·damping·w < 2^63, i.e. max weight ≲ 10^5 at
    the default 10^12 scale.  weight=None is bit-identical to the
    unweighted form (w=1, Σw=outdeg).

    ``init_ranks``: warm-start round 0 from a prior ``(title,
    rank_scaled)`` table instead of the uniform scale DIV n — the
    incremental salience-maintenance path after a CDC insert batch
    (completes the warm-start triad with
    community.connected_components/label_propagation ``init_labels``).
    The iteration is memoryless, so warm-starting k rounds from a prior
    R-round result on the SAME graph is bit-identical to R+k cold rounds
    (pytest-asserted); after edge inserts, a near-converged prior needs
    few rounds to re-converge (power iteration contracts geometrically
    from any start).  Nodes absent from ``init_ranks`` (new entities)
    start at the cold value scale DIV n; the contract is "``iterations``
    rounds from the given start", mirrored by the two-phase unrolled
    oracle (gate ``pr_warm``).

    ``early_exit=True`` stops when a round leaves every rank unchanged:
    the update is a deterministic function of the previous round, so an
    unchanged state is a fixpoint and all remaining rounds are provable
    no-ops — output stays bit-identical to the fixed unroll.  Off by
    default (the probe is one tiny join per round; gates keep the exact
    fixed-round plan); the CDC salience fold turns it on because its
    warm-started quiet batches converge in ~one round but were always
    paying the full budget.
    """
    w_col = (
        F.col(weight).cast("bigint") if weight else F.lit(1).cast("bigint")
    )
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), w_col.alias("w"))
    if symmetric:
        e = e.unionByName(
            edges.select(
                F.col(dst).alias("u"), F.col(src).alias("v"), w_col.alias("w")
            )
        )
    e = e.persist()
    nodes = (
        e.select(F.col("u").alias("title"))
        .unionByName(e.select(F.col("v").alias("title")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        # empty graph (e.g. a CDC micro-batch whose chunks yielded no
        # co-mention pairs) — return the empty ranking, not a crash
        for df in (e, nodes):
            df.unpersist()
        return nodes.select(
            "title", F.lit(0).cast("bigint").alias("rank_scaled")
        )
    outw = e.groupBy("u").agg(F.sum("w").cast("bigint").alias("outw"))
    adj = e.join(outw, "u").persist()
    base = (scale * (damping_den - damping_num)) // (damping_den * n)
    init = scale // n
    if init_ranks is not None:
        prior = init_ranks.select(
            F.col("title").alias("__it"),
            F.col("rank_scaled").cast("bigint").alias("__ir"),
        )
        ranks = nodes.join(prior, nodes["title"] == F.col("__it"), "left").select(
            "title",
            F.coalesce(F.col("__ir"), F.lit(init).cast("bigint")).alias("rank_scaled"),
        )
    else:
        ranks = nodes.select("title", F.lit(init).cast("bigint").alias("rank_scaled"))
    ranks = ranks.localCheckpoint(eager=True)
    for i in range(iterations):
        _t0 = time.perf_counter()
        contrib = (
            adj.join(ranks.select(F.col("title").alias("u"), "rank_scaled"), "u")
            .select(
                F.col("v"),
                F.expr(
                    f"(rank_scaled * {damping_num} * w) DIV ({damping_den} * outw)"
                ).alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").cast("bigint").alias("inflow"))
        )
        new_ranks = (
            nodes.join(contrib, nodes["title"] == contrib["v"], "left")
            .select(
                "title",
                (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0)))
                .cast("bigint")
                .alias("rank_scaled"),
            )
            .localCheckpoint(eager=True)
        )
        if round_log is not None:
            round_log.append(time.perf_counter() - _t0)
        converged = False
        if early_exit and i < iterations - 1:
            # eqNullSafe: a NULL-titled node (possible when edges carry
            # null endpoints) must still be visible to the fixpoint
            # probe, or its rank change could end the loop early and
            # break the bit-identical-to-fixed-unroll contract.
            prev = ranks.select(
                F.col("title").alias("__pt"), F.col("rank_scaled").alias("__prev")
            )
            converged = (
                new_ranks.join(prev, new_ranks["title"].eqNullSafe(F.col("__pt")))
                .filter(F.col("rank_scaled") != F.col("__prev"))
                .limit(1)
                .count()
                == 0
            )
        ranks = new_ranks
        if converged:
            break  # fixpoint: remaining rounds are no-ops
    e.unpersist()
    adj.unpersist()
    nodes.unpersist()
    return ranks


def grouped_pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    group_col: str = "group",
    node_col: str = "node",
    src: str = "u",
    dst: str = "v",
    weight_col: str | None = None,
    iterations: int = 5,
    scale: int = PR_SCALE,
    damping_num: int = PR_DAMP_NUM,
    damping_den: int = PR_DAMP_DEN,
) -> DataFrame:
    """Per-group fixed-round integer PageRank → (group, node,
    rank_scaled): one independent PageRank per ``group_col`` value, all
    groups advanced by the same relational loop.

    Teleport mass is normalized WITHIN each group (rank0 = scale DIV n_g,
    base_g = scale·(1−d) DIV (den·n_g)), which is the semantics TextRank
    needs (Mihalcea & Tarau 2004 run one graph per document) and which a
    single global ``pagerank_int`` cannot express — its 1/n teleport
    couples the per-document components through the global node count.

    ``edges`` are taken as DIRECTED as given; pass a symmetrized frame
    for undirected similarity graphs.  ``nodes`` declares the full node
    set per group — isolated nodes keep pure teleport mass; dangling
    nodes drop their mass (floored away, same convention as
    pagerank_int, mirrored in the unrolled oracle).

    Scale shape: identical to pagerank_int except every join/groupBy key
    is (group, node) — all rounds are group-parallel shuffles and the
    per-group size n_g rides a count window partitioned by group (never
    a global scalar or a driver count).  localCheckpoint per round
    truncates lineage.  Exactness bound as pagerank_int: rank·d_num·w
    < 2^63 ⇒ max edge weight ≲ 10^5 at the default 10^12 scale.
    """
    w_col = F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    e = edges.select(
        F.col(group_col).alias("g"),
        F.col(src).alias("u"),
        F.col(dst).alias("v"),
        w_col.alias("w"),
    )
    base_nodes = (
        nodes.select(F.col(group_col).alias("g"), F.col(node_col).alias("node"))
        .distinct()
        .withColumn("n_g", F.count("*").over(Window.partitionBy("g")).cast("bigint"))
        .persist()
    )
    outw = e.groupBy("g", "u").agg(F.sum("w").cast("bigint").alias("outw"))
    adj = e.join(outw, ["g", "u"]).persist()
    base_expr = F.expr(
        f"CAST(({scale} * {damping_den - damping_num}) DIV ({damping_den} * n_g) AS BIGINT)"
    )
    ranks = base_nodes.select(
        "g", "node", F.expr(f"CAST({scale} DIV n_g AS BIGINT)").alias("rank_scaled")
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        contrib = (
            adj.join(
                ranks.select("g", F.col("node").alias("u"), "rank_scaled"), ["g", "u"]
            )
            .select(
                "g",
                "v",
                F.expr(
                    f"(rank_scaled * {damping_num} * w) DIV ({damping_den} * outw)"
                ).alias("c"),
            )
            .groupBy("g", F.col("v").alias("node"))
            .agg(F.sum("c").cast("bigint").alias("inflow"))
        )
        ranks = (
            base_nodes.join(contrib, ["g", "node"], "left")
            .select(
                "g",
                "node",
                (base_expr + F.coalesce(F.col("inflow"), F.lit(0)))
                .cast("bigint")
                .alias("rank_scaled"),
            )
            .localCheckpoint(eager=True)
        )
    adj.unpersist()
    base_nodes.unpersist()
    return ranks.select(
        F.col("g").alias(group_col), F.col("node").alias(node_col), "rank_scaled"
    )


KATZ_SCALE = 10**6
KATZ_ATT_NUM = 1
KATZ_ATT_DEN = 50


def katz_int(
    edges: DataFrame,
    src: str = "source",
    dst: str = "target",
    iterations: int = 8,
    scale: int = KATZ_SCALE,
    att_num: int = KATZ_ATT_NUM,
    att_den: int = KATZ_ATT_DEN,
    symmetric: bool = True,
) -> DataFrame:
    """Fixed-round Katz centrality in exact integer arithmetic →
    (title, katz_scaled), units of 1/``scale``.

    Katz (1953) scores a node by its attenuated path count: katz(v) =
    Σ_{r≥1} α^r · |paths of length r ending at v| · β — the centrality
    that credits INDIRECT reach, sitting between raw degree (r = 1 only)
    and PageRank (which renormalizes by out-degree; Katz deliberately
    does not, so prolific hubs amplify their neighbors).  Recurrence:
    x_{t+1}(v) = β + Σ_{u→v} (x_t(u) · att_num) DIV att_den, x_0 = 0,
    all BIGINT — so a fixed unroll is oracle-checkable bit-for-bit,
    exactly like pagerank_int.  The truncation at ``iterations`` drops
    α^{>t} path mass (documented, mirrored in the oracle); convergence
    of the underlying series needs α < 1/λ_max — at the default 1/50
    that holds for max degree < 50; larger graphs should shrink α (the
    fixed-round unroll stays well-defined and deterministic regardless).
    β = ``scale`` so a leaf with one neighbor scores ≈ scale·(1+α).

    Scale shape: identical to pagerank_int — per round one shuffle join
    of scores against the pre-partitioned adjacency plus a map-side-
    combinable sum; eager localCheckpoint truncates lineage per round.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if symmetric:
        e = e.unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    e = e.persist()
    nodes = (
        e.select(F.col("u").alias("title"))
        .unionByName(e.select(F.col("v").alias("title")))
        .distinct()
        .persist()
    )
    nodes.count()
    x = nodes.select("title", F.lit(0).cast("bigint").alias("katz_scaled"))
    x = x.localCheckpoint(eager=True)
    for _ in range(iterations):
        inflow = (
            e.join(x.select(F.col("title").alias("u"), "katz_scaled"), "u")
            .select(
                F.col("v"),
                F.expr(f"(katz_scaled * {att_num}) DIV {att_den}").alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").cast("bigint").alias("inflow"))
        )
        x = (
            nodes.join(inflow, nodes["title"] == inflow["v"], "left")
            .select(
                "title",
                (F.lit(scale) + F.coalesce(F.col("inflow"), F.lit(0)))
                .cast("bigint")
                .alias("katz_scaled"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    nodes.unpersist()
    return x


BW_SCALE = 10**6
BW_SOURCES = 4
BW_ROUNDS = 4


def betweenness_sampled(
    edges: DataFrame,
    src: str = "source",
    dst: str = "target",
    k_sources: int = BW_SOURCES,
    rounds: int = BW_ROUNDS,
    scale: int = BW_SCALE,
    round_log: list | None = None,
) -> DataFrame:
    """Sampled Brandes betweenness centrality in exact integer arithmetic
    → (title, betweenness_scaled), units of 1/``scale``.

    Brandes (2001): betweenness(v) = Σ_{s≠v≠t} σ_st(v)/σ_st, computed per
    source as a BFS forward pass counting shortest paths (σ) followed by
    a backward dependency accumulation δ(u) = Σ_{w: succ} σ_u/σ_w ·
    (1 + δ(w)).  Exact all-sources Brandes is O(V·E) — the standard
    scale-out is PIVOT SAMPLING (Brandes & Pich 2007): run it from a
    deterministic subset of sources and report the sample total.  Sources
    here are the ``k_sources`` top-degree nodes (degree DESC, title ASC —
    the hubs whose shortest-path trees cover the most mass), and both
    passes are truncated at ``rounds`` hops, so paths longer than
    ``rounds`` contribute nothing (documented, mirrored in the oracle —
    the fixed unroll is what makes the result oracle-checkable
    bit-for-bit, exactly like pagerank_int / widest_paths).

    Integer contract: σ is an exact BIGINT path count; δ is kept in
    scaled fixed point, contribution = (σ_u · (scale + δ_w)) DIV σ_w —
    floor division on non-negatives, identical in Spark (DIV) and DuckDB
    (//).  Endpoints are excluded per the classical definition (δ at the
    source is never emitted).  Overflow bound: σ_u·(scale+δ_w) must fit
    int64 — fine while σ < 2^20 and subtree mass < scale·2^23; shrink
    ``scale`` for denser graphs.

    Scale shape: ALL sources advance simultaneously — state is one
    DataFrame keyed (s, title), so the forward pass is ``rounds``
    frontier⋈adjacency equi-joins with map-side-combinable σ sums, and
    the backward pass is ``rounds`` level-filtered joins of the SAME
    persisted visited table (one shuffle each, hot hubs split by AQE).
    k_sources multiplies rows, not stages; localCheckpoint caps lineage.
    Reference anchor: the reference ranks entities by plain degree
    (verbs/community_summarization/.../compute_edge_degree.py); this adds
    the path-centrality upgrade a query layer needs at corpus scale.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    adj = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    nodes = adj.select(F.col("a").alias("title")).distinct().persist()
    deg = adj.groupBy(F.col("a").alias("title")).agg(F.count("*").alias("degree"))
    sources = (
        deg.orderBy(F.desc("degree"), F.asc("title")).limit(k_sources).select("title")
    )
    visited = sources.select(
        F.col("title").alias("s"),
        F.col("title"),
        F.lit(0).cast("int").alias("dist"),
        F.lit(1).cast("bigint").alias("sigma"),
    ).localCheckpoint(eager=True)
    for r in range(1, rounds + 1):
        _t0 = time.perf_counter()
        frontier = visited.filter(F.col("dist") == r - 1)
        cand = (
            frontier.join(adj, frontier["title"] == adj["a"])
            .groupBy("s", F.col("b").alias("title"))
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
        )
        new = cand.join(
            visited.select(F.col("s").alias("_vs"), F.col("title").alias("_t")),
            (cand["s"] == F.col("_vs")) & (cand["title"] == F.col("_t")),
            "left_anti",
        ).select("s", "title", F.lit(r).cast("int").alias("dist"), "sigma")
        visited = visited.unionByName(new).localCheckpoint(eager=True)
        if round_log is not None:
            round_log.append(time.perf_counter() - _t0)
    visited = visited.persist()
    visited.count()
    # Backward dependency accumulation, deepest level first (δ there = 0).
    delta = visited.filter(F.col("dist") == rounds).select(
        "s", "title", "sigma", F.lit(0).cast("bigint").alias("delta")
    )
    acc = None
    for lvl in range(rounds, 0, -1):
        _t0 = time.perf_counter()
        preds = visited.filter(F.col("dist") == lvl - 1).select("s", "title", "sigma")
        contrib = (
            preds.join(adj, preds["title"] == adj["a"])
            .join(
                delta.select(
                    F.col("s").alias("_s"),
                    F.col("title").alias("_w"),
                    F.col("sigma").alias("_wsig"),
                    F.col("delta").alias("_wdelta"),
                ),
                (F.col("s") == F.col("_s")) & (F.col("b") == F.col("_w")),
            )
            .groupBy("s", "title")
            .agg(
                F.sum(
                    F.expr(f"(sigma * ({scale} + _wdelta)) DIV _wsig")
                ).cast("bigint").alias("delta")
            )
        )
        delta = (
            preds.join(contrib.withColumnRenamed("delta", "_d"), ["s", "title"], "left")
            .select(
                "s",
                "title",
                "sigma",
                F.coalesce(F.col("_d"), F.lit(0)).cast("bigint").alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        if lvl - 1 >= 1:  # level 0 is the source itself — excluded
            part = delta.select("title", "delta")
            acc = part if acc is None else acc.unionByName(part)
        if round_log is not None:
            round_log.append(time.perf_counter() - _t0)
    bc = (
        acc.groupBy("title").agg(F.sum("delta").cast("bigint").alias("bc"))
        if acc is not None
        else None
    )
    if bc is not None:
        out = nodes.join(bc, "title", "left")
    else:
        out = nodes.withColumn("bc", F.lit(None).cast("bigint"))
    out = out.select(
        "title",
        F.coalesce(F.col("bc"), F.lit(0)).cast("bigint").alias("betweenness_scaled"),
    )
    out = out.localCheckpoint(eager=True)
    adj.unpersist()
    nodes.unpersist()
    visited.unpersist()
    return out


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (a < b, distinct)
    undirected edge list → (x, y, sup).  Ordered-wedge enumeration (each
    triangle a<b<c generated once, at its lowest vertex) then one
    explode of the triangle's three edges + a map-side-combinable
    groupBy.  Edges in no triangle have NO row."""
    ab = e
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .select("a", "b", "c")
    )
    return (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                    F.struct(F.col("a").alias("x"), F.col("c").alias("y")),
                    F.struct(F.col("b").alias("x"), F.col("c").alias("y")),
                )
            ).alias("edge")
        )
        .select("edge.x", "edge.y")
        .groupBy("x", "y")
        .agg(F.count("*").cast("bigint").alias("sup"))
    )


def k_truss(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    src: str = "source",
    dst: str = "target",
) -> DataFrame:
    """Fixed-round k-truss peel → (source, target, support) for surviving
    edges, with ``support`` recomputed over the FINAL edge set.

    An edge peel (Cohen 2008, "Trusses: cohesive subgraphs for social
    network analysis"): each round drops every edge lying in fewer than
    k−2 triangles of the CURRENT subgraph, then repeats on the
    survivors.  The k-truss is the
    stricter cohesion signal — a k-core can be a sparse hub star, a
    k-truss cannot (every surviving edge has k−2 common-neighbor
    witnesses), which is what makes it the standard dense-community
    filter over noisy co-occurrence KGs.  Stands in for the reference's
    dense-subgraph appetite (clustering/leiden.py:45-61) on the
    edge side.

    A FIXED round count keeps the op deterministic and oracle-unrollable
    (same design as pagerank_int); the peel is monotone —
    dropping an edge only ever lowers other edges' support — so extra
    rounds past the fixpoint are no-ops and the unrolled oracle agrees
    with an early-stopping loop whenever ``rounds`` reaches the fixpoint.
    Output support can sit below k−2 if ``rounds`` stopped short; callers
    wanting the true truss raise ``rounds``.

    Scale shape: per round one ordered-wedge triangle enumeration — the
    O(Σ d²) step, generated at each wedge's lowest vertex with AQE skew
    splitting on hot hubs — one map-side-combinable support aggregate,
    and one equi-join filter back onto the edge list.  Never a cross
    join; the loop localCheckpoints each round to cut lineage.

    Input may be arbitrary: edges are canonicalized to the (least,
    greatest) undirected form, self-loops dropped and duplicates
    collapsed up front — ``_edge_support``'s ordered-wedge join requires
    a strict a<b distinct edge list, and without this a triangle stored
    as a directed 3-cycle would be invisible to the support count (on
    the already-canonical kg_edges tables this normalization is a
    no-op).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    for _ in range(rounds):
        sup = _edge_support(e)
        e = (
            e.join(
                sup.select(F.col("x").alias("a"), F.col("y").alias("b"), "sup"),
                ["a", "b"],
                "left",
            )
            .filter(F.coalesce(F.col("sup"), F.lit(0)) >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    final = _edge_support(e)
    return (
        e.join(
            final.select(F.col("x").alias("a"), F.col("y").alias("b"), "sup"),
            ["a", "b"],
            "left",
        )
        .select(
            F.col("a").alias("source"),
            F.col("b").alias("target"),
            F.coalesce(F.col("sup"), F.lit(0)).cast("bigint").alias("support"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 2,
    src: str = "source",
    dst: str = "target",
) -> DataFrame:
    """Multi-source BFS hop distances → (title, hop) for every node within
    ``hops`` of the seed set (hop = shortest distance, seeds at 0).

    The neighborhood-expansion primitive behind local search (reference
    local_search pulls the selected entities' 1-hop network; this
    generalizes to k): each round is ONE equi-join of the current
    distance table against the adjacency list plus a min-aggregate —
    the textbook Pregel-on-DataFrames round, same shape as pagerank_int.
    Fixed round count keeps it oracle-unrollable; BFS layers are
    monotone, so extra rounds are no-ops once the k-hop ball is closed.

    Scale: the frontier join shuffles on node key; hot hubs fan out via
    AQE skew splitting.  For billion-edge graphs cap ``hops`` small (the
    k-hop ball around a query's entities is the use case, not whole-graph
    diameter sweeps).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    adj = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    dist = seeds.select(F.col("title"), F.lit(0).cast("int").alias("hop"))
    for _ in range(hops):
        step = (
            dist.join(adj, dist["title"] == adj["a"])
            .select(F.col("b").alias("title"), (F.col("hop") + 1).alias("hop"))
        )
        dist = (
            dist.unionByName(step)
            .groupBy("title")
            .agg(F.min("hop").cast("int").alias("hop"))
            .localCheckpoint(eager=False)
        )
    return dist


WIDEST_SEED_STRENGTH = 1 << 40


def widest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "source",
    dst: str = "target",
    weight_col: str = "weight",
) -> DataFrame:
    """Max-min bottleneck path strength from a seed set → (title,
    strength) for every node reachable within ``rounds`` hops.

    The "how strongly is X connected to the hub" query: a path's strength
    is its weakest edge weight, and a node's strength is the best path's.
    This is the widest-path / bottleneck shortest-path problem — the
    weighted complement of ``bfs_hops`` (reference local_search pulls an
    unweighted 1-hop ball; edge weights are the reference's assertion
    counts, graph_extractor.py:248-290, so bottleneck strength ranks the
    ball by evidential support).  The update is monotone and idempotent
    at fixpoint,

        s_k(v) = max(s_{k-1}(v), max over (u,v,w) of least(s_{k-1}(u), w))

    so a fixed-round unroll is oracle-checkable exactly like pagerank_int
    (extra rounds past convergence are no-ops).  Edge weights are the
    merge stage's summed assertion counts — integer-valued doubles — cast
    to int64, so every strength is exact cross-engine.  Seeds carry
    ``WIDEST_SEED_STRENGTH`` (above any achievable edge weight), the
    integer stand-in for +inf.

    Scale shape: per round ONE equi-join of the frontier against the
    symmetrized adjacency plus a max-aggregate — the Pregel-on-DataFrames
    round; hot hubs split via AQE skew handling.  localCheckpoint caps
    plan growth across rounds.
    """
    e = edges.select(
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
        F.col(weight_col).cast("bigint").alias("w"),
    )
    adj = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
    )
    strength = seeds.select(
        "title", F.lit(WIDEST_SEED_STRENGTH).cast("bigint").alias("strength")
    )
    for _ in range(rounds):
        step = strength.join(adj, strength["title"] == adj["a"]).select(
            F.col("b").alias("title"),
            F.least(F.col("strength"), F.col("w")).alias("strength"),
        )
        strength = (
            strength.unionByName(step)
            .groupBy("title")
            .agg(F.max("strength").cast("bigint").alias("strength"))
            .localCheckpoint(eager=False)
        )
    return strength


AA_SCALE = 10**6


HITS_NORM_SCALE = 10**6


def _hits_norm(df: DataFrame, raw_col: str, out_col: str) -> DataFrame:
    """Round normalization for hits_int: x DIV greatest(1, max(x) DIV 1e6)
    — pins each round's top score near 1e6 in pure int64 (the integer
    stand-in for HITS' L2 normalization; same dominant-eigenvector
    fixpoint direction, exact cross-engine).  The scalar max rides a
    broadcast 1-row frame."""
    m = df.agg(F.max(raw_col).alias("__m"))
    return (
        df.join(F.broadcast(m))
        .select(
            "title",
            F.expr(
                f"CAST({raw_col} DIV greatest(1, __m DIV {HITS_NORM_SCALE}) AS BIGINT)"
            ).alias(out_col),
        )
    )


def hits_int(
    rel_edges: DataFrame,
    rounds: int = 3,
    src: str = "source",
    dst: str = "target",
) -> DataFrame:
    """Fixed-round integer HITS (Kleinberg 1999) over the DIRECTED
    relationship records → (title, authority, hub).

    The canonical merged KG is undirected (least/greatest
    canonicalization), but the extractor's raw relationship records keep
    direction (reference graph_extractor.py:267-290 parses source→target
    as written); HITS on that multigraph separates entities that POINT
    (hubs: conversation subjects initiating relations) from entities
    POINTED AT (authorities) — signal PageRank's symmetric walk erases.

    All arithmetic is int64: hub scores start at 1, each half-round is
    one equi-join + sum, and each round rescales by the round maximum
    (``_hits_norm``) so values stay ~1e6 regardless of graph size — no
    overflow at any scale (raw sums ≤ max_degree·1e6 ≤ 2^63 while
    max_degree < 9.2e12) and no float normalization to drift
    cross-engine.  Fixed rounds keep it oracle-unrollable; the rescale is
    monotone-order-preserving, so ranks stabilize exactly like the
    power iteration's.

    Scale shape: two Pregel joins per round shuffling on node key; the
    normalizing max is a 1-row broadcast.  localCheckpoint caps lineage.
    """
    e = rel_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        e.select(F.col("u").alias("title"))
        .unionByName(e.select(F.col("v").alias("title")))
        .distinct()
        .persist()
    )
    h = nodes.select("title", F.lit(1).cast("bigint").alias("h"))
    a = None
    for _ in range(rounds):
        a_raw = (
            e.join(h, e["u"] == h["title"])
            .groupBy(F.col("v").alias("title"))
            .agg(F.sum("h").cast("bigint").alias("x"))
        )
        a = _hits_norm(a_raw, "x", "a").localCheckpoint(eager=False)
        h_raw = (
            e.join(a, e["v"] == a["title"])
            .groupBy(F.col("u").alias("title"))
            .agg(F.sum("a").cast("bigint").alias("x"))
        )
        h = _hits_norm(h_raw, "x", "h").localCheckpoint(eager=False)
    out = (
        nodes.join(a, "title", "left")
        .join(h, "title", "left")
        .select(
            "title",
            F.coalesce("a", F.lit(0)).cast("bigint").alias("authority"),
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub"),
        )
    )
    return out


def scc_fixed_rounds(
    edges: DataFrame,
    src: str = "source",
    dst: str = "target",
    inner_rounds: int = 4,
    outer_rounds: int = 2,
    round_log: list | None = None,
    rounds_used: list | None = None,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph via fixed-round
    forward-backward min-label peeling (the FW-BW-trim family, Fleischer
    et al. 2000, distributed as in Pregel-style SCC) →
    (node, scc_id, resolved_round).

    Per outer round, every remaining node propagates the minimum label of
    its *ancestors* forward (``inner_rounds`` join rounds) and of its
    *descendants* backward; a node with forward-min == backward-min == m
    is mutually reachable with m, so {v : fmin(v)=bmin(v)=m} is a subset
    of SCC(m) — SOUND regardless of round counts (a propagated label
    witnesses a real path).  Resolved nodes and their edges are peeled
    and the next outer round resolves SCCs whose min member was shadowed
    by a smaller external ancestor.  With inner_rounds ≥ reachability
    diameter and enough outer rounds the partition is exact; a fixed
    unroll is oracle-checkable exactly like pagerank_int / widest_paths
    (extra rounds are no-ops).  Unresolved leftovers report scc_id '' and
    resolved_round 0 — never a wrong id.  Under INSUFFICIENT inner rounds
    a true SCC may resolve piecewise across outer rounds (peeling a
    member can break the cycle for the rest), so groups can be finer than
    the true partition — but never coarser, and every group's id is a
    member of the same true SCC (both directions of the label carry a
    real path witness; pytest property-checks this against networkx).

    The undirected `connected_components` erases direction; SCC keeps it:
    on the agent-trace transition graph it separates the recurrent tool
    core (retry/routine loops) from transient entry/exit states.

    Scale shape: each inner round is ONE equi-join of the label frontier
    against the remaining edges plus a min-aggregate (the Pregel round;
    map-side combinable).  Peeling uses left_anti joins.  localCheckpoint
    caps plan growth, as in the other iterative kernels.

    Round-4 adaptivity (output-identical to the fixed unroll):
    - forward and backward propagation run FUSED in one join per round
      (edges tagged with a direction column; labels carry (node, dir)) —
      the two directions are independent, so batching them halves the
      number of *sequential* stages, which is what actually bounds this
      kernel's wall clock (the per-round tables are small; scheduling
      latency of 16 serial rounds dominated the old shape);
    - only the DELTA (labels that changed last round) joins the edge
      list — min-propagation is monotone, so an unchanged label cannot
      contribute a new minimum to any neighbour;
    - a round with an empty delta ends the inner loop, and an empty
      remaining set ends the outer loop: further rounds are provable
      no-ops, so the gate's fixed-round oracle still matches bit-for-bit
      (`rounds_used` reports the budget actually consumed for the
      bench's rounds-vs-budget readout).
    """
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e0.select(F.col("a").alias("node"))
        .unionByName(e0.select(F.col("b").alias("node")))
        .distinct()
    )

    def _min_prop_fused(rem: DataFrame, er: DataFrame) -> tuple[DataFrame, int]:
        """Both propagation directions in one (node, dir)-keyed loop;
        delta-only joins; early exit on a converged frontier.  Returns
        (labels, rounds_actually_run) — labels bit-identical to running
        `inner_rounds` full union+min rounds per direction."""
        ed = er.select(
            F.col("a").alias("frm"), F.col("b").alias("to"), F.lit("f").alias("dir")
        ).unionByName(
            er.select(
                F.col("b").alias("frm"),
                F.col("a").alias("to"),
                F.lit("b").alias("dir"),
            )
        ).localCheckpoint(eager=False)
        lab = rem.select(
            "node",
            F.col("node").alias("lab"),
            F.explode(F.array(F.lit("f"), F.lit("b"))).alias("dir"),
        ).localCheckpoint(eager=False)
        delta = lab
        used = 0
        for i in range(inner_rounds):
            used += 1
            step = (
                delta.alias("L")
                .join(
                    ed.alias("E"),
                    (F.col("L.node") == F.col("E.frm"))
                    & (F.col("L.dir") == F.col("E.dir")),
                )
                .select(
                    F.col("E.to").alias("node"),
                    F.col("L.lab").alias("lab"),
                    F.col("E.dir").alias("dir"),
                )
            )
            cand = step.groupBy("node", "dir").agg(F.min("lab").alias("nl"))
            merged = (
                lab.join(cand, ["node", "dir"], "left")
                .select(
                    "node",
                    "dir",
                    F.least(
                        F.col("lab"), F.coalesce(F.col("nl"), F.col("lab"))
                    ).alias("new_lab"),
                    F.coalesce(F.col("nl") < F.col("lab"), F.lit(False)).alias("chg"),
                )
                .withColumnRenamed("new_lab", "lab")
                .localCheckpoint(eager=False)
            )
            lab = merged.select("node", "dir", "lab")
            if i < inner_rounds - 1:
                delta = merged.filter("chg").select("node", "dir", "lab")
                if delta.limit(1).count() == 0:
                    break  # fixpoint: remaining rounds are no-ops
        return lab, used

    remaining, er, out = nodes, e0, None
    if rounds_used is None:
        rounds_used = []
    # when the caller asks for per-outer-round walls, materialize each
    # round's resolution eagerly so the entry measures real work (the
    # default lazy checkpoints defer everything to the final action)
    eager = round_log is not None
    for r in range(1, outer_rounds + 1):
        _t0 = time.perf_counter()
        if r > 1 and remaining.limit(1).count() == 0:
            break  # everything resolved: further outer rounds are no-ops
        fused, used = _min_prop_fused(remaining, er)
        rounds_used.append(used)
        f = fused.filter(F.col("dir") == "f").select(
            "node", F.col("lab").alias("fmin")
        )
        bk = fused.filter(F.col("dir") == "b").select(
            "node", F.col("lab").alias("bmin")
        )
        res = (
            f.join(bk, "node")
            .filter(F.col("fmin") == F.col("bmin"))
            .select(
                "node",
                F.col("fmin").alias("scc_id"),
                F.lit(r).cast("int").alias("resolved_round"),
            )
            .localCheckpoint(eager=eager)
        )
        out = res if out is None else out.unionByName(res)
        remaining = remaining.alias("R").join(
            res.alias("S"), F.col("R.node") == F.col("S.node"), "left_anti"
        )
        er = (
            er.alias("E1")
            .join(res.alias("S1"), F.col("E1.a") == F.col("S1.node"), "left_anti")
            .alias("E2")
            .join(res.alias("S2"), F.col("E2.b") == F.col("S2.node"), "left_anti")
            .localCheckpoint(eager=eager)
        )
        if round_log is not None:
            round_log.append(time.perf_counter() - _t0)
    leftover = remaining.select(
        "node", F.lit("").alias("scc_id"), F.lit(0).cast("int").alias("resolved_round")
    )
    return out.unionByName(leftover)


def luby_mis(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 3,
    id_col: str = "node",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Maximal independent set via Luby's algorithm (Luby 1986) with
    deterministic per-round hash priorities → (node, status, round).

    On the near-duplicate pair graph this is the DIVERSITY KEEP-SET: the
    largest-style set of documents no two of which are near-duplicates.
    It strictly dominates keep-one-per-cluster: on a chain a—b—c the
    cluster canonical keeps {a}, the MIS keeps {a, c} — every discarded
    doc is discarded BECAUSE a kept near-duplicate covers it.

    Per round every active node draws priority p = perm_r(id) (the
    shared affine family, coefficients varying by round) packed with the
    LOW 31 BITS of the id into one int64 key (p·2^31 + (id mod 2^31) —
    int64-safe for ANY bigint id since p < 2^31), with the full id as a
    secondary tiebreak: a node whose (key, id) is strictly
    lexicographically smallest among its active neighbours joins the
    MIS, its neighbours become 'dominated', both leave the active set.
    Distinct nodes always differ on the tiebreak column, so selection
    stays total and tie-free even when ids ≥ 2^31 alias in the low bits
    (for ids < 2^31 the key alone is already injective and the packed
    value is bit-identical to the pre-fix p·2^31 + id).
    Luby's theorem gives expected O(log n) rounds; a fixed unroll is
    oracle-checkable like the other iterative kernels, and leftovers
    report 'undecided' / round 0 — never a wrong status.  The decided
    output is ALWAYS sound: 'in_mis' nodes are pairwise non-adjacent and
    every 'dominated' node has an 'in_mis' neighbour (pytest-verified).

    Scale shape per round: one equi-join of active edges against the
    keyed actives + a min-aggregate (map-side combinable), then
    left_anti peels — the Pregel round, same as SCC/LPA.
    """
    from ..functions.hashing import FP_MOD, HASH_M31, perm_coeffs

    n0 = nodes.select(F.col(id_col).cast("bigint").alias("node")).distinct()
    e = edges.select(
        F.col(src).cast("bigint").alias("a"), F.col(dst).cast("bigint").alias("b")
    ).filter(F.col("a") != F.col("b"))
    er = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    active, out = n0, None
    for r in range(1, rounds + 1):
        a_r, b_r = perm_coeffs(r)
        pri = F.pmod(
            F.lit(a_r) * F.pmod(F.col("node"), F.lit(FP_MOD)) + F.lit(b_r),
            F.lit(HASH_M31),
        )
        keyed = active.select(
            "node",
            (pri * F.lit(1 << 31) + F.pmod(F.col("node"), F.lit(1 << 31))).alias("key"),
        ).localCheckpoint(eager=True)
        # every probe side gets RENAMED columns: checkpointed frames keep
        # their output exprIds, so joining the same frame twice by alias
        # trips Spark's relation dedup ("key not found" at analysis)
        kb = keyed.select(F.col("node").alias("__nb"), F.col("key").alias("__kb"))
        nmin = (
            er.join(kb, F.col("b") == F.col("__nb"))
            .groupBy(F.col("a").alias("node"))
            .agg(F.min(F.struct(F.col("__kb").alias("k"), F.col("__nb").alias("n"))).alias("nm"))
            .select("node", F.col("nm.k").alias("nmin"), F.col("nm.n").alias("nmin_node"))
        )
        mis = (
            keyed.join(nmin, "node", "left")
            .filter(
                F.col("nmin").isNull()
                | (F.col("key") < F.col("nmin"))
                | ((F.col("key") == F.col("nmin")) & (F.col("node") < F.col("nmin_node")))
            )
            .select("node")
            .localCheckpoint(eager=True)
        )
        dom = (
            er.join(
                mis.select(F.col("node").alias("__mb")),
                F.col("b") == F.col("__mb"),
            )
            .select(F.col("a").alias("node"))
            .distinct()
            .join(
                mis.select(F.col("node").alias("__mn")),
                F.col("node") == F.col("__mn"),
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
        res = mis.select(
            "node", F.lit("in_mis").alias("status"), F.lit(r).cast("int").alias("round")
        ).unionByName(
            dom.select(
                "node",
                F.lit("dominated").alias("status"),
                F.lit(r).cast("int").alias("round"),
            )
        )
        out = res if out is None else out.unionByName(res)
        # rename each anti-join probe to a fresh column: three references
        # to the same removed-set otherwise trip Spark's relation dedup
        # ("key not found" at checkpoint time on the chained left_anti)
        removed = mis.unionByName(dom).localCheckpoint(eager=True)
        active = active.join(
            removed.select(F.col("node").alias("__rn")),
            F.col("node") == F.col("__rn"),
            "left_anti",
        )
        er = (
            er.join(
                removed.select(F.col("node").alias("__ra")),
                F.col("a") == F.col("__ra"),
                "left_anti",
            )
            .join(
                removed.select(F.col("node").alias("__rb")),
                F.col("b") == F.col("__rb"),
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
    leftover = active.select(
        "node", F.lit("undecided").alias("status"), F.lit(0).cast("int").alias("round")
    )
    return out.unionByName(leftover)


def seeded_type_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 4,
    mask_mod: int = 3,
    node_col: str = "title",
    type_col: str = "type",
    src: str = "source",
    dst: str = "target",
    weight: str = "weight",
) -> DataFrame:
    """Semi-supervised type inference over the KG: seeded (clamped) label
    propagation → (title, is_seed, true_type, pred_type, correct).

    KG construction at corpus scale leaves a long tail of sparsely-typed
    entities (the reference types every node from its extraction record —
    graph/extractors/graph/graph_extractor.py — but merged corpora
    routinely carry untyped mentions).  This operator simulates that
    regime deterministically: a node is a SEED iff its rolling
    fingerprint mod ``mask_mod`` is non-zero (≈ (mask_mod-1)/mask_mod of
    nodes keep their extracted type); every masked node starts unlabeled
    and, for ``rounds`` synchronous rounds, adopts the type with the
    highest total incident edge weight among its currently-labeled
    neighbours (tie → lexicographically smallest type).  Seeds are
    clamped — they never change — which distinguishes this kernel from
    community LPA (label_propagation: every node floats, labels are node
    ids).  Masked nodes double as held-out ground truth: ``correct``
    audits recovered-type accuracy, the blocking-audit analogue for the
    typing stage.

    Scale shape per round (the Pregel round, same as LPA/SCC): one
    equi-join of the symmetric edge list against the current label table,
    a map-side-combinable (node, type) weight sum, and a per-node top-1
    window (WindowGroupLimit pushes rank<=1 map-side).  Weights are cast
    to bigint — co-occurrence counts — so every score is exact integer
    arithmetic and the unrolled-CTE oracle matches bit-for-bit.
    """
    from ..functions.textqc import rolling_fingerprint

    base = nodes.select(
        F.col(node_col).alias("node"),
        F.col(type_col).alias("true_type"),
        (F.pmod(rolling_fingerprint(F.col(node_col)), F.lit(mask_mod)) != 0).alias(
            "is_seed"
        ),
    ).localCheckpoint(eager=True)
    e = edges.select(
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
        F.col(weight).cast("bigint").alias("w"),
    ).filter(F.col("a") != F.col("b"))
    adj = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    ).localCheckpoint(eager=True)
    labels = base.select(
        "node", F.when(F.col("is_seed"), F.col("true_type")).alias("label")
    )
    for _ in range(rounds):
        lb = labels.filter(F.col("label").isNotNull()).select(
            F.col("node").alias("__nb"), F.col("label").alias("__lb")
        )
        scored = (
            adj.join(lb, F.col("b") == F.col("__nb"))
            .groupBy(F.col("a").alias("node"), F.col("__lb").alias("label"))
            .agg(F.sum("w").alias("score"))
        )
        wn = Window.partitionBy("node").orderBy(F.desc("score"), F.asc("label"))
        best = (
            scored.withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("__best"))
        )
        labels = (
            base.join(best, "node", "left")
            .select(
                "node",
                F.when(F.col("is_seed"), F.col("true_type"))
                .otherwise(F.col("__best"))
                .alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        base.join(labels, "node")
        .select(
            F.col("node").alias(node_col),
            "is_seed",
            "true_type",
            F.col("label").alias("pred_type"),
            (F.col("label") == F.col("true_type")).alias("correct"),
        )
    )


def maximal_matching(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "source",
    dst: str = "target",
) -> DataFrame:
    """Distributed greedy maximal matching (the symmetric-proposal round
    of Israeli-Itai 1986) → matched edges (source, target, round).

    The coarsening primitive under multilevel graph partitioning and
    Leiden-style aggregation: a matching pairs each node with at most one
    neighbour, so contracting matched pairs halves the graph without
    merging non-adjacent nodes.  Per round every remaining node proposes
    its minimum-key incident edge — key = (perm_r(fingerprint(edge)),
    canonical edge string), the shared affine family with round-varying
    coefficients over the edge's rolling fingerprint, the string as a
    total-order tiebreak — and an edge joins the matching iff BOTH of its
    endpoints proposed it.  Matched nodes leave; their remaining incident
    edges dissolve.  A fixed round budget keeps the op deterministic and
    oracle-unrollable (same policy as luby_mis / scc_fixed_rounds);
    emitted edges are ALWAYS a valid matching (pairwise node-disjoint —
    pytest-verified), leftovers simply stay unmatched.

    Scale shape per round: one min-aggregate over the symmetric edge list
    keyed by endpoint (map-side combinable), one self-equi-join of the
    two endpoint proposals on the edge key, two anti-join peels — no
    windows, no driver state.
    """
    from ..functions.hashing import HASH_M31, perm_coeffs
    from ..functions.textqc import rolling_fingerprint

    e0 = (
        edges.select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e0 = e0.select(
        "a",
        "b",
        rolling_fingerprint(F.concat_ws("|", "a", "b")).alias("ex"),
        F.concat_ws("|", "a", "b").alias("estr"),
    )
    er = e0.unionByName(
        e0.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "ex", "estr"
        )
    ).localCheckpoint(eager=True)
    out = None
    for r in range(1, rounds + 1):
        a_r, b_r = perm_coeffs(r)
        keyed = er.select(
            "a",
            "b",
            "estr",
            F.pmod(F.lit(a_r) * F.col("ex") + F.lit(b_r), F.lit(HASH_M31)).alias(
                "pri"
            ),
        )
        prop = keyed.groupBy("a").agg(
            F.min(F.struct("pri", "estr")).alias("pk")
        ).select("a", F.col("pk.estr").alias("pestr"))
        # an edge is matched iff it is the proposal of BOTH endpoints:
        # count endpoint proposals per edge string (each edge has exactly
        # two directed rows, so 2 proposals == mutual)
        matched = (
            keyed.join(
                prop.select(
                    F.col("a").alias("__pa"), F.col("pestr").alias("__pe")
                ),
                (F.col("a") == F.col("__pa")) & (F.col("estr") == F.col("__pe")),
            )
            .groupBy("estr")
            .agg(
                F.count("*").alias("nprop"),
                F.min(F.least("a", "b")).alias("source"),
                F.min(F.greatest("a", "b")).alias("target"),
            )
            .filter(F.col("nprop") == 2)
            .select("source", "target")
            .localCheckpoint(eager=True)
        )
        res = matched.select(
            "source", "target", F.lit(r).cast("int").alias("round")
        )
        out = res if out is None else out.unionByName(res)
        mn = matched.select(F.explode(F.array("source", "target")).alias("mnode"))
        er = (
            er.join(
                mn.select(F.col("mnode").alias("__ma")),
                F.col("a") == F.col("__ma"),
                "left_anti",
            )
            .join(
                mn.select(F.col("mnode").alias("__mb")),
                F.col("b") == F.col("__mb"),
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
    return out


def coarsen_by_matching(
    edges: DataFrame,
    matching: DataFrame,
    src: str = "source",
    dst: str = "target",
    weight_col: str = "weight",
    count_col: str | None = None,
) -> DataFrame:
    """Contract a matching into a coarse weighted graph → (a, b, w,
    n_multi) with a <= b; a == b rows are the self-loops carrying the
    contracted pairs' internal weight.

    The aggregation step of multilevel graph partitioning (METIS,
    Karypis & Kumar 1998) and of Leiden/Louvain-style hierarchy levels:
    each matched (source, target) pair from ``maximal_matching`` becomes
    one supernode named by its lexicographic-least endpoint, unmatched
    nodes map to themselves, parallel coarse edges collapse with summed
    weight (``n_multi`` counts the originals; pass ``count_col`` when the
    input is itself a coarse level so FINE-edge provenance sums through —
    what ``coarsen_hierarchy`` does).  Applying matching +
    contraction log|V| times is the standard-coarsening phase; because a
    matching only merges ADJACENT nodes, every coarse edge corresponds
    to a real fine-graph cut, so partition quality survives refinement.

    Scale shape: the node→supernode map has one row per MATCHED node
    (≤ |V|, typically far smaller) — too big to broadcast in general, so
    endpoints resolve via two hash equi-joins keyed on the node id, then
    one (a, b) groupBy with map-side combine.  No windows, no driver
    state; weights are exact integer-valued doubles so the sum is
    order-independent.
    """
    mapping = matching.select(
        F.col("source").alias("node"), F.col("source").alias("super")
    ).unionByName(
        matching.select(F.col("target").alias("node"), F.col("source").alias("super"))
    )
    e = (
        edges.join(
            mapping.select(
                F.col("node").alias("__sn"), F.col("super").alias("__ss")
            ),
            F.col(src) == F.col("__sn"),
            "left",
        )
        .join(
            mapping.select(
                F.col("node").alias("__tn"), F.col("super").alias("__ts")
            ),
            F.col(dst) == F.col("__tn"),
            "left",
        )
        .select(
            F.coalesce(F.col("__ss"), F.col(src)).alias("ms"),
            F.coalesce(F.col("__ts"), F.col(dst)).alias("mt"),
            F.col(weight_col).alias("w0"),
            (F.col(count_col) if count_col else F.lit(1)).alias("c0"),
        )
    )
    return (
        e.select(
            F.least("ms", "mt").alias("a"),
            F.greatest("ms", "mt").alias("b"),
            "w0",
            "c0",
        )
        .groupBy("a", "b")
        .agg(
            F.sum("w0").cast("double").alias("w"),
            F.sum("c0").cast("bigint").alias("n_multi"),
        )
    )


def coarsen_hierarchy(
    edges: DataFrame,
    levels: int = 2,
    rounds: int = 4,
    src: str = "source",
    dst: str = "target",
    weight_col: str = "weight",
) -> DataFrame:
    """The full multilevel-coarsening phase: ``levels`` alternations of
    maximal matching + contraction → the level-``levels`` coarse edge
    table (a, b, w, n_multi), where ``n_multi`` counts ORIGINAL fine
    edges (provenance sums through every level) and ``w`` their total
    weight.

    Matching only pairs adjacent non-self-loop nodes, so each level
    roughly halves the vertex set where the matching is dense — log|V|
    levels shrink a cluster-resident graph to a driver-sized one, the
    standard METIS V-cycle descent.  Self-loops accumulated at earlier
    levels are carried through contraction (their endpoint just follows
    its supernode) but excluded from the next level's matching input.

    Scale shape per level: one fixed-round matching (see
    ``maximal_matching``) + one contraction (two hash joins + groupBy);
    each level's edge table is strictly smaller, so the total cost is a
    geometric series dominated by level 1.
    """
    cur = edges.select(
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
        F.col(weight_col).cast("double").alias("w"),
        F.lit(1).cast("bigint").alias("n_multi"),
    )
    for _ in range(levels):
        m = maximal_matching(
            cur.filter(F.col("a") != F.col("b")).select(
                F.col("a").alias("source"), F.col("b").alias("target")
            ),
            rounds=rounds,
        )
        cur = coarsen_by_matching(
            cur, m, src="a", dst="b", weight_col="w", count_col="n_multi"
        ).localCheckpoint(eager=True)
    return cur


def coarsen_communities(
    nodes: DataFrame,
    edges: DataFrame,
    levels: int = 3,
    rounds: int = 4,
    node_col: str = "title",
    src: str = "source",
    dst: str = "target",
    weight_col: str = "weight",
) -> DataFrame:
    """Depth-L community hierarchy from multilevel matching-coarsening →
    (title, community, level), one row per node per level.

    Level ``levels-1`` is the FINEST granularity (one matching +
    contraction), level 0 the coarsest (``levels`` contractions) —
    the R10 orientation (reports.community_hierarchy): level L+1
    communities nest inside level L.  A node's community at level L is
    the supernode its contraction chain reaches after ``levels - L``
    matchings, so containment holds BY CONSTRUCTION at every depth:
    each contraction only merges whole supernodes, never splits one.
    This is the depth-parameterized re-clustering the reference gets
    from hierarchical Leiden (leiden.py:45-61) — deterministic LPA
    cannot provide it (re-running the same rounds on an induced
    component reproduces itself), but matching-coarsening strictly
    coarsens wherever any adjacent pair remains, so every level is a
    REAL refinement step on any graph at any scale.

    Scale shape: per level one fixed-round ``maximal_matching`` + one
    ``coarsen_by_matching`` contraction (hash equi-joins + map-side
    combined groupBy), plus ONE equi-join to advance the composed
    node→supernode map (keyed on the current supernode — never the
    original node set twice).  Edge tables shrink geometrically; the
    node map stays |V| rows with no driver state, no windows, no
    collect.
    """
    out = None
    cur = edges.select(
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
        F.col(weight_col).cast("double").alias("w"),
        F.lit(1).cast("bigint").alias("n_multi"),
    )
    m_map = nodes.select(
        F.col(node_col).alias("__t"), F.col(node_col).alias("__s")
    )
    for k in range(1, levels + 1):
        matching = maximal_matching(
            cur.filter(F.col("a") != F.col("b")).select(
                F.col("a").alias("source"), F.col("b").alias("target")
            ),
            rounds=rounds,
        ).localCheckpoint(eager=True)
        step = matching.select(
            F.col("source").alias("__n"), F.col("source").alias("__ns")
        ).unionByName(
            matching.select(
                F.col("target").alias("__n"), F.col("source").alias("__ns")
            )
        )
        m_map = (
            m_map.join(step, m_map["__s"] == step["__n"], "left")
            .select(
                "__t", F.coalesce(F.col("__ns"), F.col("__s")).alias("__s")
            )
            .localCheckpoint(eager=True)
        )
        lvl = m_map.select(
            F.col("__t").alias(node_col),
            F.col("__s").alias("community"),
            F.lit(levels - k).cast("int").alias("level"),
        )
        out = lvl if out is None else out.unionByName(lvl)
        if k < levels:
            cur = coarsen_by_matching(
                cur, matching, src="a", dst="b", weight_col="w", count_col="n_multi"
            ).localCheckpoint(eager=True)
    return out


def negative_samples(
    nodes: DataFrame,
    edges: DataFrame,
    k: int = 3,
    node_col: str = "title",
    src: str = "source",
    dst: str = "target",
) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training →
    (source, target, sample_idx, neg_target, is_clean): for every true
    edge and j in [0, k), corrupt the target to the node whose dense
    index is perm_j(fingerprint(source|target)) mod |V|; a corruption
    that hits either endpoint or any TRUE edge is flagged unclean (the
    "filtered" negative protocol of Bordes et al. 2013's TransE
    evaluation — downstream keeps ``is_clean``).

    Training-data shape: embedding objectives (TransE/DistMult/node2vec
    with negative sampling) consume (positive, negatives[]) batches; a
    hash-derived corruption is reproducible across runs and resumable
    mid-corpus — no RNG state to checkpoint.  Rejections are FLAGGED,
    not dropped: the row count stays a closed-form k·|E| (loaders budget
    on it), the rejection rate is itself a density statistic, and on a
    near-complete graph a drop-based protocol would silently emit
    nothing.

    Scale shape: the node index comes from with_global_index (two-phase,
    no single-partition exchange); |V| joins in as a broadcast 1-row
    bound; the corruption explode is k rows per edge; the truth check
    is one left join on the canonical pair.  Uniformity is the hash
    family's (perm_j output mod |V| — near-uniform for |V| << 2^31).
    """
    from ..functions.hashing import perm_col
    from ..functions.textqc import rolling_fingerprint

    idx = with_global_index(
        nodes.select(F.col(node_col).alias("nt")).distinct(), ["nt"], "nid"
    )
    nv = idx.agg(F.count("*").alias("n_nodes"))
    e = edges.select(F.col(src).alias("source"), F.col(dst).alias("target")).distinct()
    ex = e.select(
        "source",
        "target",
        rolling_fingerprint(F.concat_ws("|", "source", "target")).alias("x"),
    )
    cand = (
        ex.crossJoin(F.broadcast(nv))
        .select(
            "source",
            "target",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("sample_idx"),
            "x",
            "n_nodes",
        )
        .select(
            "source",
            "target",
            "sample_idx",
            F.pmod(
                perm_col(F.col("x"), F.col("sample_idx")), F.col("n_nodes")
            ).alias("cand_nid"),
        )
    )
    withname = cand.join(
        idx.select(F.col("nid").alias("cand_nid"), F.col("nt").alias("neg_target")),
        "cand_nid",
    ).drop("cand_nid")
    truth = e.select(
        F.least("source", "target").alias("__ta"),
        F.greatest("source", "target").alias("__tb"),
        F.lit(True).alias("__hit"),
    ).distinct()
    return (
        withname.join(
            truth,
            (F.least("source", "neg_target") == F.col("__ta"))
            & (F.greatest("source", "neg_target") == F.col("__tb")),
            "left",
        )
        .select(
            "source",
            "target",
            "sample_idx",
            "neg_target",
            (
                (F.col("neg_target") != F.col("source"))
                & (F.col("neg_target") != F.col("target"))
                & F.col("__hit").isNull()
            ).alias("is_clean"),
        )
    )


def jp_coloring(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 4,
    node_col: str = "title",
    src: str = "source",
    dst: str = "target",
) -> DataFrame:
    """Distributed greedy graph coloring (Jones-Plassmann 1993, with
    Luby-style round-varying priorities) → (title, color, round).

    The conflict-scheduling primitive: a proper coloring partitions the
    KG into independent batches, so any per-node mutation (canonical
    re-merge, embedding update, community re-assignment) can run one
    color class at a time with NO two adjacent nodes in flight — the
    standard parallel-scheduling use of coloring.

    Per round every uncolored node draws priority (perm_r(fingerprint
    (title)), title) — the shared affine family over the rolling
    fingerprint, title as the total-order tiebreak (fingerprints can
    collide; the pair cannot).  A node strictly greater than ALL its
    uncolored neighbours colors itself with the minimum color not used
    by its already-colored neighbours (mex, computed set-wise: explode
    candidates 0..|used| per winner, anti-join the used set, take the
    min).  Winners form an independent set, so simultaneous mex choices
    never conflict — the output is ALWAYS a proper partial coloring
    (pytest-verified); a fixed round budget leaves leftovers as
    (color -1, round 0), never a wrong color.

    Scale shape per round: one max-aggregate over the symmetric edge
    list (map-side combinable), the mex explode bounded by each winner's
    colored-degree, two anti-join peels — the Pregel round again.
    """
    from ..functions.hashing import HASH_M31, perm_coeffs
    from ..functions.textqc import rolling_fingerprint

    n0 = nodes.select(F.col(node_col).alias("node")).distinct()
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    er = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    active = n0.localCheckpoint(eager=True)
    colored = None  # (node, color, round)
    for r in range(1, rounds + 1):
        a_r, b_r = perm_coeffs(r)
        pri = F.pmod(
            F.lit(a_r) * rolling_fingerprint(F.col("node")) + F.lit(b_r),
            F.lit(HASH_M31),
        )
        keyed = active.select("node", pri.alias("key")).localCheckpoint(eager=True)
        kb = keyed.select(F.col("node").alias("__nb"), F.col("key").alias("__kb"))
        # active-neighbour max (key, node) per node — only edges whose b
        # end is still active contribute
        nmax = (
            er.join(kb, F.col("b") == F.col("__nb"))
            .groupBy(F.col("a").alias("node"))
            .agg(
                F.max(
                    F.struct(F.col("__kb").alias("k"), F.col("__nb").alias("n"))
                ).alias("nm")
            )
            .select("node", F.col("nm.k").alias("nmax"), F.col("nm.n").alias("nmax_node"))
        )
        winners = (
            keyed.join(nmax, "node", "left")
            .filter(
                F.col("nmax").isNull()
                | (F.col("key") > F.col("nmax"))
                | ((F.col("key") == F.col("nmax")) & (F.col("node") > F.col("nmax_node")))
            )
            .select("node")
            .localCheckpoint(eager=True)
        )
        if colored is None:
            newly = winners.select(
                "node", F.lit(0).cast("int").alias("color")
            )
        else:
            used = (
                er.join(
                    winners.select(F.col("node").alias("__wa")),
                    F.col("a") == F.col("__wa"),
                )
                .join(
                    colored.select(
                        F.col("node").alias("__cb"), F.col("color").alias("__uc")
                    ),
                    F.col("b") == F.col("__cb"),
                )
                .select(F.col("a").alias("node"), F.col("__uc").alias("ucolor"))
                .distinct()
            )
            ucnt = used.groupBy("node").agg(F.count("*").alias("m"))
            cands = (
                winners.join(ucnt, "node", "left")
                .select(
                    "node",
                    F.explode(
                        F.sequence(F.lit(0), F.coalesce(F.col("m"), F.lit(0)))
                    ).alias("c"),
                )
            )
            newly = (
                cands.join(
                    used.withColumnRenamed("ucolor", "c"), ["node", "c"], "left_anti"
                )
                .groupBy("node")
                .agg(F.min("c").cast("int").alias("color"))
            )
        res = newly.select(
            "node", "color", F.lit(r).cast("int").alias("round")
        ).localCheckpoint(eager=True)
        colored = res if colored is None else colored.unionByName(res).localCheckpoint(
            eager=True
        )
        active = active.join(
            res.select(F.col("node").alias("__rn")),
            F.col("node") == F.col("__rn"),
            "left_anti",
        ).localCheckpoint(eager=True)
        er = er.join(
            res.select(F.col("node").alias("__ra")),
            F.col("a") == F.col("__ra"),
            "left_anti",
        ).localCheckpoint(eager=True)
        # NOTE: only the a-side peels — the b-side rows of colored nodes
        # must SURVIVE so later winners still see their colors in `used`
    leftover = active.select(
        "node", F.lit(-1).cast("int").alias("color"), F.lit(0).cast("int").alias("round")
    )
    return (
        colored.unionByName(leftover)
        .select(F.col("node").alias(node_col), "color", "round")
    )


def min_spanning_forest(
    edges: DataFrame,
    src: str = "source",
    dst: str = "target",
    weight: str = "weight",
    rounds: int = 5,
    round_log: list | None = None,
) -> DataFrame:
    """Minimum spanning forest via Borůvka rounds → (source, target,
    weight, round).

    The MapReduce-classic MSF: per round every component selects its
    minimum-weight outgoing edge under the TOTAL order (weight, "a|b")
    — by the cut property every selected edge belongs to the unique MSF
    of the tie-perturbed graph, so a fixed round budget yields a SUBSET
    of the true forest (rounds ≥ ceil(log2 |V|) make it exact: component
    count at least halves per round).  Deterministic, hence unrollable
    as a DuckDB oracle round-for-round.

    KG use: the MSF over inverse-weight edges is the "backbone" of the
    co-mention graph (strongest-tie skeleton) — the sparsifier that lets
    a 100-TB edge list feed layout/visual/path tooling that needs a
    tree-like subgraph.

    Scale shape per round: two hash joins stamp component labels on the
    edge endpoints; the per-component argmin is a top-1 window
    (WindowGroupLimit — rank<=1 prunes map-side, no global sort); the
    contraction pointer-jumps the SELECTION STAR GRAPH (exactly one
    pointer per active component, so each doubling is a self-join of a
    |components|-row table — ceil(log2) doublings, never a general CC
    over the edge list).  Under the total edge order the pointer graph's
    only cycles are 2-cycles (the Borůvka invariant: a longer cycle
    would contain an edge that is not its source's minimum), broken to
    the lexicographic-min endpoint; the resulting labels differ from
    min-reach labels but induce the SAME partition, and selection only
    depends on the partition — so the emitted edge set is oracle-exact.
    localCheckpoint truncates the per-round lineage, as in the other
    iterative kernels.  (First cut ran distributed CC per round: the
    LogicalRDD inputs carry default Long.Max size stats and Catalyst's
    size-only estimation spent MINUTES in BigInteger products on the
    repeated self-join diamonds — driver-bound with zero running jobs.
    The star-pointer contraction avoids the whole class.)

    Reference anchor: the reference materializes its graph via
    networkx (utils/graph.py); a spanning backbone is the distributed
    stand-in for the layout/traversal passes that library family gives
    for free on a single node.
    """
    import math

    from ..partitioning import checkpoint_fresh

    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            F.col(weight).cast("double").alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .withColumn("estr", F.concat_ws("|", "a", "b"))
        .localCheckpoint(eager=False)
    )
    comp = (
        e0.select(F.col("a").alias("node"))
        .unionByName(e0.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .transform(checkpoint_fresh)
    )
    out = None
    for r in range(1, rounds + 1):
        _t0 = time.perf_counter()
        ec = (
            e0.join(comp.select(F.col("node").alias("a"), F.col("comp").alias("ca")), "a")
            .join(comp.select(F.col("node").alias("b"), F.col("comp").alias("cb")), "b")
            .filter(F.col("ca") != F.col("cb"))
        ).transform(checkpoint_fresh)
        if ec.limit(1).count() == 0:
            break  # forest complete — further rounds are no-ops (oracle too)
        cand = ec.select(
            F.col("ca").alias("c"), F.col("cb").alias("oc"), "a", "b", "w", "estr"
        ).unionByName(
            ec.select(
                F.col("cb").alias("c"), F.col("ca").alias("oc"), "a", "b", "w", "estr"
            )
        )
        # per-component minimum cut edge: (c -> other comp) plus the edge
        selp = (
            cand.withColumn(
                "rn", F.row_number().over(Window.partitionBy("c").orderBy("w", "estr"))
            )
            .filter(F.col("rn") == 1)
            .select("c", "oc", "a", "b", "w", "estr")
            .transform(checkpoint_fresh)
        )
        n_active = selp.count()
        picked = (
            selp.select("a", "b", "w", "estr")
            .dropDuplicates(["estr"])  # both sides of a cut may pick the same edge
            .select(
                F.col("a").alias("source"),
                F.col("b").alias("target"),
                F.col("w").alias("weight"),
                F.lit(r).cast("int").alias("round"),
            )
        )
        out = picked if out is None else out.unionByName(picked)
        # contract via star pointer-jumping: ptr(c) = oc; break the
        # 2-cycles to the min endpoint (roots become self-loops), then
        # pointer-double ceil(log2 n_active) times — each step a
        # |components|-row self-join
        ptr = selp.select("c", F.col("oc").alias("p"))
        par = (
            ptr.alias("X")
            .join(
                ptr.select(F.col("c").alias("p"), F.col("p").alias("pp")).alias("Y"),
                "p",
                "left",
            )
            .select(
                "c",
                F.when(
                    F.col("pp") == F.col("c"), F.least(F.col("c"), F.col("p"))
                )
                .otherwise(F.col("p"))
                .alias("p"),
            )
            .transform(checkpoint_fresh)
        )
        # pointer-double with a converged early exit: the log2(n_active)
        # budget is the worst case (one long chain); real Borůvka pointer
        # forests flatten in a handful of doublings, and each skipped
        # doubling is a full sequential stage.  A doubling that moves no
        # pointer is a fixpoint (p is idempotent), so stopping is exact.
        for _ in range(max(1, math.ceil(math.log2(max(n_active, 2))))):
            stepped = (
                par.join(
                    par.select(F.col("c").alias("p"), F.col("p").alias("p2")),
                    "p",
                    "left",
                )
                .select(
                    "c",
                    F.coalesce("p2", "p").alias("np"),
                    (F.col("p2").isNotNull() & (F.col("p2") != F.col("p"))).alias(
                        "moved"
                    ),
                )
                .transform(checkpoint_fresh)
            )
            par = stepped.select("c", F.col("np").alias("p"))
            if stepped.filter("moved").limit(1).count() == 0:
                break
        # inactive components (no cut edge) keep their label
        comp = (
            comp.join(par.withColumnRenamed("c", "comp"), "comp", "left")
            .select("node", F.coalesce("p", "comp").alias("comp"))
            .transform(checkpoint_fresh)
        )
        if round_log is not None:
            round_log.append(time.perf_counter() - _t0)
    if out is None:
        return edges.sparkSession.createDataFrame(
            [], "source string, target string, weight double, round int"
        )
    return out


def densest_subgraph(
    edges: DataFrame,
    src: str = "source",
    dst: str = "target",
    eps_num: int = 11,
    eps_den: int = 10,
    rounds: int = 8,
    round_log: list | None = None,
) -> DataFrame:
    """Greedy densest-subgraph peeling (Charikar 2000, MapReduce form of
    Bahmani-Kumar-Vassilvitskii VLDB'12) → (node, peel_round, in_best).

    Rounds peel every node whose degree is ≤ (1+ε)·average — the
    2(1+ε)-approximation: S_r (survivors of r rounds) shrinks
    geometrically, and the densest prefix S_r* is within 2(1+ε) of the
    optimum.  peel_round = the round that removed the node (0 =
    survived all rounds); in_best marks membership in the argmax-density
    prefix (ties → earliest round).  The threshold compare is exact
    int64 cross-multiplication (deg·|V|·eps_den ≤ 2·|E|·eps_num — valid
    while deg·|V|·eps_den < 2^63) so no engine ever rounds.

    KG use: the densest community of the co-mention graph is the "hot
    core" — the entity cluster that dominates extraction volume; at
    100 TB it is the first thing to inspect for hub-collapse artifacts.

    Scale shape: each round is one degree aggregation (map-side
    combinable) + a broadcast 1-row stats bound + an anti-join peel —
    O(log n / ε) rounds, no windows, no driver data beyond two scalars
    per round.
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e0.select(F.col("a").alias("node"))
        .unionByName(e0.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    peeled = None  # (node, peel_round)
    rem_e, rem_n = e0, nodes
    stats: list[tuple[int, int, int]] = []  # (round_prefix, n_nodes, n_edges)
    for r in range(1, rounds + 1):
        _t0 = time.perf_counter()
        agg = rem_e.agg(F.count("*").alias("ne")).collect()[0]
        n_e = int(agg["ne"])
        n_v = rem_n.count()
        stats.append((r - 1, n_v, n_e))
        # break only on an EMPTY node set: with edges gone but nodes left,
        # the isolated leftovers must still be peeled this round so peel
        # rounds line up with the oracle's fixed unroll
        if n_v == 0:
            break
        deg = (
            rem_e.select(F.col("a").alias("node"))
            .unionByName(rem_e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("deg"))
        )
        # remove v iff deg(v)·|V|·eps_den ≤ 2·|E|·eps_num  (deg ≤ (1+ε)·2E/V)
        drop = deg.filter(
            F.col("deg") * F.lit(n_v) * F.lit(eps_den)
            <= F.lit(2 * n_e * eps_num)
        ).select("node", F.lit(r).cast("int").alias("peel_round"))
        # isolated survivors (degree 0 after edge peeling) also go this round
        iso = rem_n.join(deg, "node", "left_anti").select(
            "node", F.lit(r).cast("int").alias("peel_round")
        )
        drop = drop.unionByName(iso).localCheckpoint(eager=True)
        peeled = drop if peeled is None else peeled.unionByName(drop)
        rem_n = rem_n.join(drop.select("node"), "node", "left_anti").localCheckpoint(
            eager=True
        )
        rem_e = (
            rem_e.join(drop.select(F.col("node").alias("a")), "a", "left_anti")
            .join(drop.select(F.col("node").alias("b")), "b", "left_anti")
            .localCheckpoint(eager=True)
        )
        if round_log is not None:
            round_log.append(time.perf_counter() - _t0)
    # best prefix: argmax 2E/V (double division — identical IEEE754 both
    # engines), ties → earliest prefix (the larger subgraph)
    best_round = 0
    best = (-1.0, 0)
    for rp, n_v, n_e in stats:
        if n_v == 0:
            continue
        d = (2.0 * n_e) / n_v
        if d > best[0]:
            best = (d, rp)
    best_round = best[1]
    spark = edges.sparkSession
    if peeled is None:
        peeled = spark.createDataFrame([], "node string, peel_round int")
    full = nodes.join(peeled, "node", "left").select(
        "node", F.coalesce("peel_round", F.lit(0)).cast("int").alias("peel_round")
    )
    return full.select(
        "node",
        "peel_round",
        (
            (F.col("peel_round") == 0) | (F.col("peel_round") > F.lit(best_round))
        ).alias("in_best"),
    )


def knn_graph(
    edges: DataFrame,
    k: int = 3,
    src: str = "source",
    dst: str = "target",
    weight: str = "weight",
) -> DataFrame:
    """k-nearest-neighbor sparsification → (source, target, weight,
    kept_by): keep each node's top-k incident edges by (weight DESC,
    canonical pair ASC), union over endpoints; kept_by counts how many
    endpoints retained the edge (2 = mutual kNN).

    The standard pre-pass before an expensive kernel at 100-TB edge
    counts: the union-of-kNN graph preserves connectivity of strong-tie
    structure while bounding |E| ≤ k·|V|.  Per-node top-k is a rank ≤ k
    window (WindowGroupLimit pushes the limit map-side — hubs never
    materialize their full edge list in one task).
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            F.col(weight).cast("double").alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
        .withColumn("estr", F.concat_ws("|", "a", "b"))
    )
    cand = e0.select(F.col("a").alias("c"), "a", "b", "w", "estr").unionByName(
        e0.select(F.col("b").alias("c"), "a", "b", "w", "estr")
    )
    kept = (
        cand.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("c").orderBy(F.desc("w"), "estr")),
        )
        .filter(F.col("rn") <= k)
        .groupBy("a", "b", "w")
        .agg(F.count("*").cast("int").alias("kept_by"))
    )
    return kept.select(
        F.col("a").alias("source"),
        F.col("b").alias("target"),
        F.col("w").alias("weight"),
        "kept_by",
    )


def lp_ranking_audit(
    nodes: DataFrame,
    edges: DataFrame,
    k: int = 5,
    node_col: str = "title",
    src: str = "source",
    dst: str = "target",
) -> DataFrame:
    """Filtered link-prediction ranking protocol (Bordes et al. 2013's
    TransE evaluation, scored structurally) → (source, target, rank,
    n_cand): for every true edge, rank the TRUE target against its
    ``negative_samples`` corruptions by Adamic-Adar common-neighbor
    score (integer weights floor(1e6/bitlen(deg)) per common
    neighbor), ties broken candidate-name ASC.  rank = 1 means the
    scorer put the real edge first; MRR/hits@k read off downstream.

    This is the KG-completion eval harness: it measures how well a
    scorer recovers held-out structure, the quality loop for extraction
    and linking (a recall drop in the extractor shows up as rank decay
    before any human reads a triple).  Only CLEAN corruptions count
    (the filtered protocol — corruptions that hit a true edge or an
    endpoint are excluded, so a dense graph never punishes the scorer
    for "wrong" negatives that are actually right).

    Scale shape: candidates are k rows per edge (closed form); scoring
    joins are blocked on the common neighbor (per candidate pair the
    fan-out is deg(source), never a cross join); the final rank is one
    groupBy over the candidate set — no windows, no driver collects.  Duplicate sampled
    corruptions stay in the multiset (rank counts them twice), matching
    the closed-form row budget of negative_samples.
    """
    e = edges.select(F.col(src).alias("source"), F.col(dst).alias("target")).distinct()
    negs = negative_samples(nodes, edges, k=k, node_col=node_col, src=src, dst=dst)
    cand = e.select(
        "source", "target", F.col("target").alias("cand"), F.lit(True).alias("is_pos")
    ).unionByName(
        negs.filter(F.col("is_clean")).select(
            "source",
            "target",
            F.col("neg_target").alias("cand"),
            F.lit(False).alias("is_pos"),
        )
    )
    adj = (
        e.select(F.col("source").alias("a"), F.col("target").alias("b"))
        .unionByName(e.select(F.col("target").alias("a"), F.col("source").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    w = (
        adj.groupBy("a")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .select(
            F.col("a").alias("z"),
            F.floor(
                F.lit(AA_SCALE)
                / F.greatest(F.length(F.bin(F.col("deg"))) - 1, F.lit(1))
            )
            .cast("bigint")
            .alias("w_micro"),
        )
    )
    pairs = (
        cand.select("source", "cand")
        .distinct()
        .filter(F.col("source") != F.col("cand"))
    )
    sc = (
        pairs.join(adj.select(F.col("a").alias("source"), F.col("b").alias("z")), "source")
        .join(adj.select(F.col("a").alias("cand"), F.col("b").alias("z")), ["cand", "z"])
        .join(w, "z")
        .groupBy("source", "cand")
        .agg(F.sum("w_micro").cast("bigint").alias("aa"))
    )
    scored = cand.join(sc, ["source", "cand"], "left").select(
        "source",
        "target",
        "cand",
        "is_pos",
        F.coalesce("aa", F.lit(0)).cast("bigint").alias("aa"),
    )
    pos = scored.filter(F.col("is_pos")).select(
        "source", "target", F.col("aa").alias("aa_pos")
    )
    neg = scored.filter(~F.col("is_pos")).select(
        "source", "target", F.col("cand").alias("ncand"), F.col("aa").alias("naa")
    )
    return (
        pos.join(neg, ["source", "target"], "left")
        .groupBy("source", "target")
        .agg(
            (
                F.lit(1)
                + F.count(
                    F.when(
                        (F.col("naa") > F.col("aa_pos"))
                        | (
                            (F.col("naa") == F.col("aa_pos"))
                            & (F.col("ncand") < F.col("target"))
                        ),
                        True,
                    )
                )
            )
            .cast("int")
            .alias("rank"),
            (F.lit(1) + F.count("ncand")).cast("int").alias("n_cand"),
        )
    )


def sssp_int(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "source",
    dst: str = "target",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford rounds) from a
    seed set → (title, dist) for every node reachable within ``rounds``
    relaxations.

    The additive-cost complement of ``widest_paths`` (max-min) and
    ``bfs_hops`` (unweighted): a path's cost is the SUM of its edge
    weights and a node keeps the cheapest path found so far,

        d_k(v) = min(d_{k-1}(v), min over (u,v,w) of d_{k-1}(u) + w)

    Monotone non-increasing and idempotent at fixpoint, so a fixed-round
    unroll is oracle-checkable exactly like widest_paths (extra rounds
    past convergence are no-ops).  Edge weights are the merge stage's
    summed assertion counts — integer-valued doubles — cast to int64, so
    every distance is exact cross-engine (no float accumulation).  On the
    KG this reads as a minimum-evidence-traversal cost; on any weighted
    edge table it is plain SSSP.  Seeds enter at distance 0.

    Scale shape per round: ONE equi-join of the current distance table
    against the symmetrized adjacency plus a min-aggregate (map-side
    combinable) — the Pregel-on-DataFrames round shared with
    widest_paths/bfs_hops; localCheckpoint caps lineage growth.
    Bellman-Ford needs |V|-1 rounds for exactness on arbitrary graphs;
    a fixed budget bounds work per job the same way pagerank_int does,
    and every emitted distance is a true path cost (never an
    underestimate)."""
    e = edges.select(
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
        F.col(weight_col).cast("bigint").alias("w"),
    )
    adj = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    dist = seeds.select("title", F.lit(0).cast("bigint").alias("dist"))
    for _ in range(rounds):
        step = dist.join(adj, dist["title"] == adj["a"]).select(
            F.col("b").alias("title"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist = (
            dist.unionByName(step)
            .groupBy("title")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def four_cycle_profile(
    edges: DataFrame, src: str = "source", dst: str = "target"
) -> DataFrame:
    """Per-node 4-cycle participation count → (title, degree,
    four_cycles).

    C4 motifs capture bipartite-style redundancy (two entities sharing
    two distinct intermediaries) that triangles miss entirely — the
    canonical signal for co-reference candidates and templated-relation
    detection in a KG, and the basis of the rectangle clustering
    coefficient.

    Counting identity: for an unordered node pair {u,w} (u < w) with c
    common neighbours there are C(c,2) four-cycles whose diagonal is
    {u,w}.  Every 4-cycle has exactly two diagonals and every node of the
    cycle is an endpoint of exactly one of them, so summing C(c,2) over
    the pairs containing v counts each 4-cycle through v exactly once.
    (Chorded quadrilaterals count too — this is the standard C4 census,
    not the induced-cycle variant.)  All integers; c·(c−1) is even so the
    DIV 2 is exact.

    Scale shape: wedge enumeration grouped by ENDPOINT pair — an
    O(Σ d²) plan with the common neighbour as the blocking key, then one
    groupBy (map-side combinable) and an explode of the surviving c ≥ 2
    pairs (far fewer than wedges).  Hot hubs
    split via AQE skew handling."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    adj = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    w1 = adj.select(F.col("a").alias("z"), F.col("b").alias("u"))
    w2 = adj.select(F.col("a").alias("z"), F.col("b").alias("v"))
    pairs = (
        w1.join(w2, "z")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("c"))
        .filter(F.col("c") >= 2)
        .withColumn("c4", F.expr("c * (c - 1) DIV 2").cast("bigint"))
    )
    per_node = (
        pairs.select(F.explode(F.array("u", "v")).alias("title"), "c4")
        .groupBy("title")
        .agg(F.sum("c4").cast("bigint").alias("four_cycles"))
    )
    deg = node_degrees(
        edges.select(F.col(src).alias("source"), F.col(dst).alias("target"))
    )
    return deg.join(per_node, "title", "left").select(
        "title",
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce("four_cycles", F.lit(0)).cast("bigint").alias("four_cycles"),
    )


def double_sweep_diameter(
    edges: DataFrame, hops: int = 4, src: str = "source", dst: str = "target"
) -> DataFrame:
    """Double-sweep BFS diameter lower bound → one row (seed_a, seed_b,
    ecc_a_lb, diameter_lb, n_reached).

    Magnien, Latapy & Habib 2009: BFS from a high-degree seed, restart
    from the farthest node found (ties broken by title ASC — total
    order), and the second eccentricity is a lower bound on the graph
    diameter that is exact on trees and empirically tight on real
    graphs.  Each sweep is the bounded-round `bfs_hops` kernel, so with a
    fixed ``hops`` budget the reported bound is itself a sound lower
    bound (hop counts are true shortest distances for every reached
    node).

    Scale shape: 2·hops Pregel rounds (one equi-join + min-aggregate
    each) plus two 1-row argmax reductions (TakeOrderedAndProject — no
    global window, no collect)."""
    deg = node_degrees(
        edges.select(F.col(src).alias("source"), F.col(dst).alias("target"))
    )
    seed_a = deg.orderBy(F.desc("degree"), F.asc("title")).limit(1).select("title")
    d1 = bfs_hops(edges, seed_a, hops=hops, src=src, dst=dst)
    seed_b = d1.orderBy(F.desc("hop"), F.asc("title")).limit(1).select("title")
    d2 = bfs_hops(edges, seed_b, hops=hops, src=src, dst=dst)
    a_row = seed_a.select(F.col("title").alias("seed_a"))
    ecc1 = d1.agg(F.max("hop").cast("int").alias("ecc_a_lb"))
    b_row = seed_b.select(F.col("title").alias("seed_b"))
    d2agg = d2.agg(
        F.max("hop").cast("int").alias("diameter_lb"),
        F.count("*").cast("bigint").alias("n_reached"),
    )
    return (
        a_row.crossJoin(ecc1)
        .crossJoin(b_row)
        .crossJoin(d2agg)
        .select("seed_a", "seed_b", "ecc_a_lb", "diameter_lb", "n_reached")
    )


def wl_refinement(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 3,
    type_col: str = "type",
    src: str = "source",
    dst: str = "target",
) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement → (title, wl_color,
    class_size).

    Shervashidze et al. 2011 / the classic 1-WL canonical-labeling round:
    every node starts from a hash of its type and each round re-hashes

        sig(v) = color(v) || '|' || join(sorted([color(u) for u in N(v)]), ',')

    so after k rounds two nodes share a color iff their k-hop typed
    unfoldings agree.  On a KG this is the structural-role signature:
    same-color nodes are exchangeable under every graph query that sees
    only types and adjacency — the blocking key for role-based entity
    canonicalization and the standard graph-isomorphism/GNN
    expressiveness baseline (WL colors = what message passing can
    distinguish).  class_size counts each color's equivalence class.

    The hash is the shared SQL-expressible polynomial fold
    (functions/hashing.py), the neighbour multiset is rendered with
    NUMERIC sort order, and isolated nodes hash 'color|' — every round
    is bit-reproducible on both engines, so a fixed unroll gates it.

    Scale shape per round: one equi-join of colors onto the symmetrized
    adjacency (shuffle on node key, AQE-splittable) + one groupBy whose
    sorted collect_list is bounded by node degree; the signature/hash is
    row-local Column algebra.  localCheckpoint truncates per-round
    lineage like every iterative kernel here."""
    from ..functions.textqc import rolling_fingerprint

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    adj = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    color = nodes.select(
        "title", rolling_fingerprint(F.col(type_col)).alias("c")
    )
    for _ in range(rounds):
        nbr = (
            adj.join(color.select(F.col("title").alias("b"), F.col("c").alias("nc")), "b")
            .groupBy("a")
            .agg(F.sort_array(F.collect_list("nc")).alias("ncs"))
            .select(F.col("a").alias("title"), "ncs")
        )
        color = (
            color.join(nbr, "title", "left")
            .select(
                "title",
                rolling_fingerprint(
                    F.concat_ws(
                        "|",
                        F.col("c").cast("string"),
                        F.array_join(
                            F.transform(
                                F.coalesce(F.col("ncs"), F.expr("CAST(array() AS ARRAY<BIGINT>)")),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        ),
                    )
                ).alias("c"),
            )
            .localCheckpoint(eager=False)
        )
    sizes = color.groupBy("c").agg(F.count("*").cast("bigint").alias("class_size"))
    return color.join(sizes, "c").select(
        "title", F.col("c").cast("bigint").alias("wl_color"), "class_size"
    )


def partition_agreement(
    part_a: DataFrame,
    part_b: DataFrame,
    node_col: str = "title",
    label_a: str = "community",
    label_b: str = "component",
) -> DataFrame:
    """Pair-counting agreement between two node partitions → ONE row
    (n_nodes, pairs_total, pairs_both, pairs_a, pairs_b, rand_micro,
    precision_micro, recall_micro, f1_micro), all exact integers.

    The partition-drift monitor a maintained KG needs: how much do the
    LPA communities just restate connectivity (LPA vs CC), how far did a
    warm re-cluster move from the cold one, did this round's extraction
    change the community structure.  Treating A as prediction and B as
    reference: TP = node pairs co-clustered in both (Σ C(n_ij, 2) over
    the contingency table), precision = TP/pairs_a, recall = TP/pairs_b,
    Rand = (TP + TN)/C(n, 2) — the classical pair-counting family
    (Rand 1971), reported as floor-micro integers so two engines agree
    bit-for-bit.  ARI is deliberately omitted: its cross term
    pairs_a·pairs_b overflows int64 once n ≳ 10^5, while every statistic
    emitted here stays exact to n ≈ 4·10^6 (pairs_total·10^6 < 2^63);
    past that, compute the ratios in DOUBLE from the exact counts.

    Scale shape: one inner join on the node key (dropping nodes absent
    from either side — documented, they have no pair semantics), ONE
    groupBy (label_a, label_b) shuffle with map-side partial counts, and
    every further sum runs over the CONTINGENCY table (≤ |labels_A| ×
    |labels_B| rows), never the node set again.  No window, no collect.
    Reference anchor: the reference never compares partitions (each
    leiden run overwrites the last, clustering/leiden.py); versioned
    community maintenance is what makes the comparison exist.
    """
    j = part_a.select(
        F.col(node_col).alias("node"), F.col(label_a).alias("la")
    ).join(
        part_b.select(F.col(node_col).alias("node"), F.col(label_b).alias("lb")),
        "node",
    )
    cont = j.groupBy("la", "lb").agg(F.count("*").cast("bigint").alias("c"))
    # localCheckpoint, not persist(): the contingency table is read by
    # three downstream aggregates, but a persist() here would leak one
    # cache-manager entry per call in long-lived sessions (gate sweeps,
    # streaming drivers) because the 1-row result frame is returned lazy
    # and there is no post-materialization hook to unpersist on.
    # Checkpointed RDD blocks are reclaimed by the ContextCleaner once
    # the frame is unreferenced — no manual lifecycle needed.
    cont = cont.localCheckpoint(eager=True)
    tot = cont.agg(
        F.sum("c").cast("bigint").alias("n_nodes"),
        F.sum(F.expr("c * (c - 1) DIV 2")).cast("bigint").alias("pairs_both"),
    )
    sa = (
        cont.groupBy("la")
        .agg(F.sum("c").alias("cc"))
        .agg(F.sum(F.expr("cc * (cc - 1) DIV 2")).cast("bigint").alias("pairs_a"))
    )
    sb = (
        cont.groupBy("lb")
        .agg(F.sum("c").alias("cc"))
        .agg(F.sum(F.expr("cc * (cc - 1) DIV 2")).cast("bigint").alias("pairs_b"))
    )
    out = (
        tot.crossJoin(sa)
        .crossJoin(sb)
        .select(
            "n_nodes",
            F.expr("n_nodes * (n_nodes - 1) DIV 2").cast("bigint").alias("pairs_total"),
            "pairs_both",
            "pairs_a",
            "pairs_b",
        )
        .select(
            "*",
            F.expr(
                "(pairs_both + pairs_total - pairs_a - pairs_b + pairs_both) * 1000000"
                " DIV greatest(1, pairs_total)"
            )
            .cast("bigint")
            .alias("rand_micro"),
            F.expr("pairs_both * 1000000 DIV greatest(1, pairs_a)")
            .cast("bigint")
            .alias("precision_micro"),
            F.expr("pairs_both * 1000000 DIV greatest(1, pairs_b)")
            .cast("bigint")
            .alias("recall_micro"),
            F.expr(
                "2 * pairs_both * 1000000 DIV greatest(1, pairs_a + pairs_b)"
            )
            .cast("bigint")
            .alias("f1_micro"),
        )
    )
    return out
