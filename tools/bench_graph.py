"""Graph-scale bench: the distributed iterative kernels measured PAST the
200k-edge driver-local cutover (round-2 verdict headline gap — every
iterative graph operator had only ever been timed on a toy ~161-edge KG).

Two graph sources, both deterministic and executor-side:

1. ``synth_graph`` — seeded endpoint draws at an exact target |E|
   (default 1.2M edges / 150k nodes; GRAPH_EDGES / GRAPH_NODES env to
   resize).  ``GRAPH_HUB_PCT=10`` re-points 10% of all edge sources at
   one node, planting a super-hub with degree ~10% of |E| — the verdict's
   graph-skew scenario; run uniform then hub and compare walls.
2. ``--from-kg`` — the KG actually EXTRACTED by the full pipeline from
   sf-proportional-vocabulary transcripts (synth_transcripts with
   n_person = KG_CONVS, n_city = KG_CONVS // 3), proving the
   extraction→graph path itself produces a past-cutover graph, not just
   a synthetic stand-in.

Measured per operator: total wall, per-round walls (the operators'
``round_log`` hook — every round ends in an eager localCheckpoint, so
entries are real work), and shuffle read/write byte deltas from the
Spark status REST API (the session enables the UI just for this).

Output: one JSON line per operator plus a markdown table to paste into
BENCH_SCALING.md.

Usage:
    python tools/bench_graph.py                         # 1.2M-edge synthetic
    GRAPH_HUB_PCT=10 python tools/bench_graph.py        # super-hub skew run
    python tools/bench_graph.py --from-kg               # extracted-KG variant
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

EDGES = int(os.environ.get("GRAPH_EDGES", "1200000"))
NODES = int(os.environ.get("GRAPH_NODES", str(max(EDGES // 8, 1))))
HUB_PCT = int(os.environ.get("GRAPH_HUB_PCT", "0"))
KG_CONVS = int(os.environ.get("GRAPH_KG_CONVS", "30000"))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# comma-separated subset of {cc,ccwarm,lpa,pagerank,prwarm,scc,bw,n2v,katz,truss,
# hits,widest,typed,match,jp,mis,coarsen,msf,densest,knn,lp,sssp,c4,wl,dsweep}
# — e.g. the 10M-edge probe runs "cc,pagerank" to bound wall clock
OPS = set(
    os.environ.get("GRAPH_OPS", "cc,lpa,pagerank,scc,bw").replace(" ", "").split(",")
)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


class ShuffleMeter:
    """Cumulative shuffle bytes via the status REST API; deltas per op."""

    def __init__(self, spark):
        self.ui = spark.sparkContext.uiWebUrl
        self.app = _get(f"{self.ui}/api/v1/applications")[0]["id"]

    def totals(self) -> tuple[int, int]:
        stages = _get(
            f"{self.ui}/api/v1/applications/{self.app}/stages?status=COMPLETE"
        )
        w = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        r = sum(s.get("shuffleReadBytes", 0) for s in stages)
        return w, r


def build_synthetic(spark):
    from knowledge_graph_spark.synth import synth_graph

    return synth_graph(spark, n_nodes=NODES, n_edges=EDGES, hub_pct=HUB_PCT)


def build_from_kg(spark):
    """Extract the KG from sf-proportional-vocabulary transcripts.

    Vocabulary grows with the input (n_person = n_convs, n_city =
    n_convs // 3), so — unlike the fixed ~30-name test fixture — the
    extracted edge set scales with the corpus instead of saturating at a
    toy graph.  Chunk size 160 keeps per-chunk co-occurrence cliques
    small (all-pairs in a chunk is quadratic in DISTINCT mentions per
    chunk)."""
    from knowledge_graph_spark.pipeline import PipelineConfig, build_graph
    from knowledge_graph_spark.synth import synth_transcripts

    transcripts = synth_transcripts(
        spark,
        n_convs=KG_CONVS,
        base_turns=8,
        n_person=KG_CONVS,
        n_city=KG_CONVS // 3,
    )
    stages = build_graph(
        transcripts,
        PipelineConfig(chunk_size=160, chunk_overlap=0, tokenizer="ws"),
    )
    return stages["edges"]


def main() -> None:
    from knowledge_graph_spark.operators.community import (
        connected_components,
        label_propagation,
    )
    from knowledge_graph_spark.operators.graphops import (
        node_degrees,
        pagerank_int,
        scc_fixed_rounds,
    )
    from knowledge_graph_spark.session import get_spark
    from pyspark.sql import functions as F

    from_kg = "--from-kg" in sys.argv
    spark = get_spark(
        app_name="bench-graph",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )
    meter = ShuffleMeter(spark)

    t0 = time.perf_counter()
    edges = (build_from_kg(spark) if from_kg else build_synthetic(spark)).persist()
    m = edges.count()
    build_sec = time.perf_counter() - t0
    nodes = (
        edges.select(F.col("source").alias("title"))
        .unionByName(edges.select(F.col("target").alias("title")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    max_deg = node_degrees(edges).agg(F.max("degree")).first()[0]
    header = {
        "source": "kg_pipeline" if from_kg else "synth_graph",
        "n_nodes": n,
        "n_edges": m,
        "max_degree": max_deg,
        "hub_pct": HUB_PCT,
        "cpus": int(CPUS),
        "build_sec": round(build_sec, 2),
    }
    print(json.dumps({"graph": header}), flush=True)

    results: dict[str, dict] = {}

    def timed(name: str, fn) -> None:
        w0, r0 = meter.totals()
        rlog: list[float] = []
        t = time.perf_counter()
        out_rows = fn(rlog)
        wall = time.perf_counter() - t
        w1, r1 = meter.totals()
        results[name] = {
            "wall_sec": round(wall, 2),
            "rounds": [round(x, 2) for x in rlog],
            "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
            "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
            "out_rows": out_rows,
        }
        print(json.dumps({name: results[name]}), flush=True)

    if "cc" in OPS:
        timed(
            "connected_components",
            lambda rl: connected_components(
                nodes, edges, local_threshold=0, max_iter=50, round_log=rl
            ).count(),
        )
    if "ccwarm" in OPS:
        # incremental maintenance: cold components on 99% of the edges
        # (materialized OUTSIDE the timed region), then warm-start over
        # the full graph — the CDC-insert reconvergence cost, to compare
        # against the cold connected_components line above
        old = edges.filter(F.pmod(F.xxhash64("source", "target"), F.lit(100)) != 0)
        init = connected_components(
            nodes, old, local_threshold=0, max_iter=50
        ).persist()
        init.count()
        timed(
            "cc_warm_1pct_delta",
            lambda rl: connected_components(
                nodes,
                edges,
                local_threshold=0,
                max_iter=50,
                round_log=rl,
                init_labels=init,
            ).count(),
        )
    if "lpa" in OPS:
        timed(
            "label_propagation",
            lambda rl: label_propagation(
                nodes, edges, local_threshold=0, max_iter=10, round_log=rl
            ).count(),
        )
    if "lpawarm" in OPS:
        # incremental re-cluster: 10 cold rounds on 99% of the edges
        # (outside the timed region), then 5 warm rounds over the full
        # graph from those labels — the CDC-insert re-cluster cost
        old = edges.filter(F.pmod(F.xxhash64("source", "target"), F.lit(100)) != 0)
        linit = label_propagation(old.selectExpr("source AS title").union(
            old.selectExpr("target AS title")).distinct(),
            old, local_threshold=0, max_iter=10,
        ).persist()
        linit.count()
        timed(
            "lpa_warm_1pct_delta",
            lambda rl: label_propagation(
                nodes, edges, local_threshold=0, max_iter=5,
                round_log=rl, init_labels=linit,
            ).count(),
        )
    if "pagerank" in OPS:
        timed(
            "pagerank",
            lambda rl: pagerank_int(edges, iterations=10, round_log=rl).count(),
        )
    if "prwarm" in OPS:
        # incremental salience maintenance: 10 cold rounds on 99% of the
        # edges (outside the timed region), then 3 warm rounds over the
        # full graph from those scores — the CDC-insert re-rank cost, to
        # compare against the 10-round cold pagerank line above
        old = edges.filter(F.pmod(F.xxhash64("source", "target"), F.lit(100)) != 0)
        pinit = pagerank_int(old, iterations=10).persist()
        pinit.count()
        timed(
            "pr_warm_1pct_delta",
            lambda rl: pagerank_int(
                edges, iterations=3, round_log=rl, init_ranks=pinit
            ).count(),
        )
    if "scc" in OPS:
        timed("scc", lambda rl: scc_fixed_rounds(edges, round_log=rl).count())
    if "bw" in OPS:
        from knowledge_graph_spark.operators.graphops import betweenness_sampled

        timed(
            "betweenness",
            lambda rl: betweenness_sampled(edges, round_log=rl).count(),
        )
    if "n2v" in OPS:
        from knowledge_graph_spark.operators.graph_embedding import (
            node2vec_embeddings,
        )

        timed(
            "node2vec",
            lambda rl: node2vec_embeddings(
                nodes, edges, dim=32, walk_length=8, num_walks=4, window=2
            ).count(),
        )
    # --- the fixed-round kernels added in round 3's late waves: no
    # --- round_log hook (round count is a constant), total walls only
    if "katz" in OPS:
        from knowledge_graph_spark.operators.graphops import katz_int

        timed("katz", lambda rl: katz_int(edges, iterations=8).count())
    if "truss" in OPS:
        from knowledge_graph_spark.operators.graphops import k_truss

        timed("k_truss", lambda rl: k_truss(edges, k=3, rounds=3).count())
    if "hits" in OPS:
        from knowledge_graph_spark.operators.graphops import hits_int

        timed("hits", lambda rl: hits_int(edges, rounds=3).count())
    if "widest" in OPS:
        from knowledge_graph_spark.operators.graphops import widest_paths

        seeds = (
            node_degrees(edges)
            .orderBy(F.desc("degree"), F.asc("title"))
            .limit(1)
            .select("title")
        )
        timed(
            "widest_paths",
            lambda rl: widest_paths(edges, seeds, rounds=3).count(),
        )
    if "typed" in OPS:
        from knowledge_graph_spark.operators.graphops import (
            seeded_type_propagation,
        )

        # the synthetic graph carries no type column — plant a
        # deterministic 5-way one (what the KG's extraction record
        # supplies on the real path)
        typed_nodes = nodes.withColumn(
            "type",
            F.concat(
                F.lit("T"), F.pmod(F.xxhash64("title"), F.lit(5)).cast("string")
            ),
        )
        timed(
            "typed_lpa",
            lambda rl: seeded_type_propagation(
                typed_nodes, edges, rounds=4
            ).count(),
        )
    if "match" in OPS:
        from knowledge_graph_spark.operators.graphops import maximal_matching

        timed(
            "max_matching", lambda rl: maximal_matching(edges, rounds=4).count()
        )
    if "coarsen" in OPS:
        from knowledge_graph_spark.operators.graphops import coarsen_hierarchy

        we = edges.withColumn("weight", F.lit(1.0))
        timed(
            "coarsen_l2",
            lambda rl: coarsen_hierarchy(we, levels=2, rounds=4).count(),
        )
    if "msf" in OPS:
        from knowledge_graph_spark.operators.graphops import min_spanning_forest

        we = edges.withColumn(
            "weight", (F.pmod(F.xxhash64("source", "target"), F.lit(97)) + 1).cast("double")
        )
        timed(
            "msf",
            lambda rl: min_spanning_forest(we, rounds=5, round_log=rl).count(),
        )
    if "densest" in OPS:
        from knowledge_graph_spark.operators.graphops import densest_subgraph

        timed(
            "densest",
            lambda rl: densest_subgraph(edges, rounds=8, round_log=rl).count(),
        )
    if "knn" in OPS:
        from knowledge_graph_spark.operators.graphops import knn_graph

        we = edges.withColumn(
            "weight", (F.pmod(F.xxhash64("source", "target"), F.lit(97)) + 1).cast("double")
        )
        timed("knn_graph", lambda rl: knn_graph(we, k=3).count())
    if "lp" in OPS:
        from knowledge_graph_spark.operators.graphops import lp_ranking_audit

        timed(
            "lp_ranking",
            lambda rl: lp_ranking_audit(nodes, edges, k=2).count(),
        )
    if "sssp" in OPS:
        from knowledge_graph_spark.operators.graphops import sssp_int

        we = edges.withColumn(
            "weight", (F.pmod(F.xxhash64("source", "target"), F.lit(97)) + 1).cast("double")
        )
        seeds = (
            node_degrees(edges)
            .orderBy(F.desc("degree"), F.asc("title"))
            .limit(1)
            .select("title")
        )
        timed("sssp", lambda rl: sssp_int(we, seeds, rounds=6).count())
    if "c4" in OPS:
        from knowledge_graph_spark.operators.graphops import four_cycle_profile

        timed("four_cycles", lambda rl: four_cycle_profile(edges).count())
    if "wl" in OPS:
        from knowledge_graph_spark.operators.graphops import wl_refinement

        # the synthetic graph carries no type column — plant the same
        # deterministic 5-way one the typed_lpa bench uses
        typed_nodes = nodes.withColumn(
            "type",
            F.concat(
                F.lit("T"), F.pmod(F.xxhash64("title"), F.lit(5)).cast("string")
            ),
        )
        timed(
            "wl_colors",
            lambda rl: wl_refinement(typed_nodes, edges, rounds=3).count(),
        )
    if "dsweep" in OPS:
        from knowledge_graph_spark.operators.graphops import double_sweep_diameter

        timed(
            "diameter_lb",
            lambda rl: double_sweep_diameter(edges, hops=4).count(),
        )
    if "jp" in OPS:
        from knowledge_graph_spark.operators.graphops import jp_coloring

        timed(
            "jp_coloring", lambda rl: jp_coloring(nodes, edges, rounds=4).count()
        )
    if "mis" in OPS:
        from knowledge_graph_spark.operators.graphops import luby_mis

        # luby_mis takes bigint ids (the near-dup pair graph is keyed by
        # doc_id) — hash the string titles; ids ≥ 2^31 exercise the
        # low-bits+tiebreak packing
        mis_nodes = nodes.select(F.abs(F.xxhash64("title")).alias("node"))
        mis_pairs = edges.select(
            F.abs(F.xxhash64("source")).alias("id_a"),
            F.abs(F.xxhash64("target")).alias("id_b"),
        )
        timed(
            "luby_mis",
            lambda rl: luby_mis(mis_nodes, mis_pairs, rounds=3).count(),
        )

    total = round(sum(r["wall_sec"] for r in results.values()), 2)
    print(
        json.dumps(
            {
                "metric": "graph_bench_total",
                "value": total,
                "unit": "sec",
                **header,
                "ops": results,
            }
        ),
        flush=True,
    )
    # markdown rows for BENCH_SCALING.md
    print("\n| op | wall sec | rounds (sec each) | shuffle write MB | shuffle read MB |")
    print("|---|---|---|---|---|")
    for k, v in results.items():
        rounds = ", ".join(f"{x:.1f}" for x in v["rounds"])
        print(
            f"| {k} | {v['wall_sec']} | {rounds} | "
            f"{v['shuffle_write_mb']} | {v['shuffle_read_mb']} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
