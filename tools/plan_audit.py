"""Physical-plan audit → PLANS.md.

Captures ``explain("formatted")`` for the headline gate queries and
distills the scale-relevant plan features into one reviewable table:

- scans + what reached them (PushedFilters / ReadSchema — pushdown and
  column pruning evidence),
- Exchange count (shuffles — the 100-TB cost driver) and reuse,
- join strategies chosen (broadcast vs sort-merge),
- where Python runs (ArrowEvalPython / FlatMapGroupsInPandas /
  MapInPandas — every one must be a deliberate Arrow-batched seam,
  never a row-at-a-time UDF),
- WholeStageCodegen span count (JVM codegen coverage).

Plan SHAPE is scale-invariant, so the audit runs at sf0.001 on local[8]
— it is the same Catalyst output a 1000-executor run would schedule,
modulo AQE runtime re-planning (which only coalesces/re-plans at stage
boundaries).  `tests/test_physical_plans.py` asserts the load-bearing
features at test time; this artifact exists so a reviewer can read the
full picture without running anything.

Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io as _io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

REPO = Path(__file__).resolve().parents[1]

# One representative query per subsystem (auditing every gate would
# repeat the same plan families).
AUDIT = [
    ("transcripts", "events → stable-ordered transcript turns"),
    ("text_units", "KG stage: assembly → chunking (persisted hub)"),
    ("edge_rank", "KG stage: extract → parse → merge → rank"),
    ("communities_lpa", "iterative LPA over the persisted graph"),
    ("text_profile", "text QC: lang-ID/quality/fingerprints (scan-fused)"),
    ("exact_dedup", "hash-groupBy exact dedup"),
    ("ngram_dedup", "inverted-index n-gram Jaccard dedup"),
    ("minhash_dedup", "MinHash-LSH banded dedup"),
    ("emb_topk", "brute-force cosine top-k (exact fold)"),
    ("emb_ivf_topk", "IVF cell-join ANN"),
    ("decontam", "benchmark decontamination (broadcast eval grams)"),
    ("sessions", "batch gap sessionization"),
    ("event_hourly", "tumbling-window rollup"),
    ("length_hist", "mergeable log2 length histogram"),
    ("tool_transitions", "agent-trace Markov transitions (conv-keyed window)"),
    ("widest_paths", "fixed-round bottleneck-path Pregel joins"),
    ("dsir_select", "DSIR: broadcast bucket model + heap top-K"),
    ("tool_scc", "fixed-round FW-BW SCC peeling joins"),
    ("bpe_merges", "BPE training rounds over the word-frequency table"),
    ("hyperball", "HyperBall register MAX-merge rounds"),
    ("contrastive_pairs", "within-cell candidates + anchor-partitioned windows"),
    ("qa_turns", "conversation QA folding (conv-keyed window + groupBy)"),
    ("conv_context", "recency-biased token-budget prefix (two conv windows)"),
    ("pagerank_w", "weighted PageRank rounds (weight-share contributions)"),
    ("global_search", "map score + distributed two-phase budget prefix sum"),
    ("katz", "fixed-round integer Katz centrality joins"),
    ("betweenness", "sampled Brandes: frontier joins + level-filtered backward joins"),
    ("kg_asof", "midpoint-filtered full pipeline rebuild (broadcast 1-row cutoff)"),
    ("type_mixing", "two type-map joins + pair-canonical groupBy"),
    ("typed_lpa", "seeded type propagation rounds (clamped-seed Pregel)"),
    ("max_matching", "symmetric-proposal matching rounds (min-agg + peel)"),
    ("topic_segments", "turn-Jaccard boundary rule + running-sum segment ids"),
    ("negative_samples", "perm-family corruption + broadcast node map + anti-join"),
    ("jp_coloring", "Jones-Plassmann rounds (min-agg + peel, color by round)"),
    ("kg_retract", "conv anti-join on persisted records + re-merge (no re-extract)"),
    ("coarsen_l2", "two-level matching contraction (map joins + provenance sums)"),
    ("msf", "Borůvka rounds: comp-label joins + top-1 window + star pointer doubling"),
    ("densest", "peel rounds: combinable degree agg + scalar-bound anti-joins"),
    ("knn_graph", "per-node top-k edges (WindowGroupLimit) + kept_by groupBy"),
    ("lp_ranking", "corruption candidates + blocked common-neighbor scoring + rank groupBy"),
    ("sssp", "Bellman-Ford relaxation rounds (min-agg per frontier join)"),
    ("four_cycles", "common-neighbor pair counting (wedge join + C(c,2) fold)"),
    ("wl_colors", "1-WL re-hash rounds (sorted neighbor-color fold joins)"),
    ("diameter_lb", "double-sweep BFS rounds + two argmax TakeOrdered"),
    ("textrank", "dense per-conv Arrow kernel (ONE cogroup shuffle, no round joins)"),
    ("source_profile", "profile-join rollup (count-distinct + integer-micro sums)"),
    ("pr_warm", "warm-start PR: init-rank left join + the standard round joins"),
    ("kg_diff", "ONE co-partitioned full-outer join on the edge key"),
    ("partition_agreement", "contingency groupBy + tiny 1-row combines"),
    ("cluster_drift", "two LPA chains folded to the pair-counting tail"),
]

PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
)


def formatted_plan(df) -> str:
    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit_one(text: str) -> dict:
    # Count operator-detail headers "(N) NodeName" only — the formatted
    # output repeats every node once in the tree and once in the detail
    # section, so raw substring counts double everything.
    nodes = re.findall(r"^\(\d+\) ([A-Za-z]+)", text, re.M)

    def count(name: str) -> int:
        return sum(1 for n in nodes if n == name)

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", text)
    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", text)
    py = {n: count(n) for n in PY_NODES}
    return {
        "scans": count("Scan"),
        "pushed_nonempty": sum(1 for p in pushed if p.strip()),
        "read_cols": [len(s.split(",")) if s.strip() else 0 for s in schemas],
        "exchanges": count("Exchange"),
        "reused_exchanges": count("ReusedExchange"),
        "bhj": count("BroadcastHashJoin"),
        "smj": count("SortMergeJoin"),
        "inmem": count("InMemoryTableScan"),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", text))),
        "python": {k: v for k, v in py.items() if v},
        "pushed": [p for p in pushed if p.strip()][:3],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from knowledge_graph_spark.session import get_spark
    from knowledge_graph_spark.synth import load_views

    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    load_views(spark, sf_dir)
    import __spark_entry__ as entry

    qs = entry.queries()
    rows, details = [], []
    for name, desc in AUDIT:
        df = qs[name](spark, sf_dir)
        df.count()  # run it: AQE finalizes the plan + codegen annotations
        a = audit_one(formatted_plan(df))
        py = ", ".join(f"{k}×{v}" for k, v in a["python"].items()) or "—"
        rows.append(
            f"| `{name}` | {desc} | {a['scans']}"
            f"{' (+' + str(a['inmem']) + ' cached)' if a['inmem'] else ''} "
            f"| {a['exchanges']}"
            f"{' (' + str(a['reused_exchanges']) + ' reused)' if a['reused_exchanges'] else ''} "
            f"| {a['bhj']} / {a['smj']} | {py} | {a['codegen']} |"
        )
        if a["pushed"]:
            details.append(f"- `{name}` pushed filters: " + "; ".join(a["pushed"]))
        if a["read_cols"]:
            details.append(
                f"- `{name}` scan column counts (pruning): {a['read_cols']}"
            )

    md = REPO / "PLANS.md"
    md.write_text(
        "# Physical-plan audit (generated by tools/plan_audit.py)\n\n"
        f"`explain(\"formatted\")` features of one representative gate query per\n"
        f"subsystem, captured at {sf_dir} on local[8] AFTER execution, so the\n"
        "table reflects the FINAL adaptive plan (AQE re-planning and codegen\n"
        "annotations included).  Plan shape is scale-invariant — the same\n"
        "Catalyst output a large cluster schedules — so this is the audit of\n"
        "what would run at 100 TB.  Python rows are Arrow-batched seams by design — the\n"
        "extraction kernel and the block-matmul ANN — never row-at-a-time UDFs;\n"
        "`tests/test_physical_plans.py` asserts the load-bearing features\n"
        "(pushdown, pruning, broadcast, no-Python-in-native-paths) at test time.\n"
        "Cached scans are the deliberate stage-hub persists (`_stages`).\n\n"
        "| query | subsystem | parquet scans | exchanges | joins bcast/SMJ | python stages | codegen spans |\n"
        "|---|---|---|---|---|---|---|\n"
        + "\n".join(rows)
        + "\n\nA zero-exchange row (`communities_lpa` at this SF) is the documented\n"
        "driver-local fixpoint cutover below 200k edges — the distributed\n"
        "pointer-doubling path (2 shuffles/round) takes over above it and is\n"
        "plan-asserted in `tests/test_physical_plans.py`.\n"
        "\n## Scan details\n\n"
        + "\n".join(details)
        + "\n\nRegenerate: `python tools/plan_audit.py`.\n"
    )
    print(f"wrote {md}")


if __name__ == "__main__":
    main()
