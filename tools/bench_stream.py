"""Streaming throughput evidence: rows/s through each foreachBatch fold.

The streaming folds (incremental MinHash dedup, mergeable sketches, the
agent-trace transition fold, the CDC KG fold) are correctness-tested (fold == batch in
tests/test_streaming.py etc.) but were never RATED — this harness drains
each stream once over a deterministic materialized input at local[32]
(availableNow trigger, maxFilesPerTrigger=64, so the input's file count
sets the micro-batch count) and reports rows/s.

Work lands under .bench_stream/ (gitignored).  Output: one JSON line per
stream plus a markdown table for BENCH_SCALING.md.

Usage: python tools/bench_stream.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

WORK = REPO / ".bench_stream"
N_DOCS = int(os.environ.get("STREAM_DOCS", "200000"))
N_CONVS = int(os.environ.get("STREAM_CONVS", "30000"))
N_FILES = 256  # / maxFilesPerTrigger=64 → 4 micro-batches
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def synth_docs(spark, n: int):
    """Deterministic (doc_id, text) corpus: ~30 words each from a 5k-word
    vocabulary, so MinHash shingles overlap realistically."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda i: F.concat(
                    F.lit("w"), (F.abs(F.xxhash64(F.col("id"), i)) % 5000).cast("string")
                ),
            ),
        ).alias("text"),
    )


def main() -> None:
    from knowledge_graph_spark.io import TableIO
    from knowledge_graph_spark.session import get_spark
    from knowledge_graph_spark.streaming.dedup_stream import run_dedup_stream
    from knowledge_graph_spark.streaming.sketch_stream import run_sketch_stream
    from knowledge_graph_spark.streaming.trace_stream import run_trace_stream
    from knowledge_graph_spark.synth import synth_transcripts

    if WORK.exists():
        shutil.rmtree(WORK)
    WORK.mkdir()
    spark = get_spark(app_name="bench-stream", master=f"local[{CPUS}]")

    docs_dir = str(WORK / "docs")
    synth_docs(spark, N_DOCS).repartition(N_FILES).write.parquet(docs_dir)
    turns_dir = str(WORK / "turns")
    transcripts = synth_transcripts(spark, n_convs=N_CONVS, base_turns=8)
    n_turns = transcripts.count()
    transcripts.repartition(N_FILES).write.parquet(turns_dir)

    results: dict[str, dict] = {}

    def timed(name: str, rows: int, fn) -> None:
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        results[name] = {
            "rows": rows,
            "wall_sec": round(wall, 2),
            "rows_per_sec": round(rows / wall, 1),
            "micro_batches": N_FILES // 64,
        }
        print(json.dumps({name: results[name]}), flush=True)

    timed(
        "dedup_stream",
        N_DOCS,
        lambda: run_dedup_stream(
            spark,
            docs_dir,
            TableIO(spark, base=str(WORK / "dedup_wh")),
            checkpoint_dir=str(WORK / "dedup_ckpt"),
        ),
    )
    timed(
        "sketch_stream",
        N_DOCS,
        lambda: run_sketch_stream(
            spark,
            docs_dir,
            TableIO(spark, base=str(WORK / "sketch_wh")),
            checkpoint_dir=str(WORK / "sketch_ckpt"),
        ),
    )
    timed(
        "trace_stream",
        n_turns,
        lambda: run_trace_stream(
            spark,
            turns_dir,
            TableIO(spark, base=str(WORK / "trace_wh")),
            checkpoint_dir=str(WORK / "trace_ckpt"),
        ),
    )
    # The KG fold (CDC insert stream, the only KG sink), then the same
    # fold with each per-batch maintained table: the delta vs
    # kg_cdc_stream prices that add-on (components = incremental
    # canonicalization via warm-start CC)
    from knowledge_graph_spark.streaming.retract_stream import run_kg_cdc

    timed(
        "kg_cdc_stream",
        n_turns,
        lambda: run_kg_cdc(
            spark,
            turns_dir,
            None,
            TableIO(spark, base=str(WORK / "cdc_wh")),
            checkpoint_dir=str(WORK / "cdc_ckpt"),
        ),
    )
    timed(
        "kg_cdc_stream_components",
        n_turns,
        lambda: run_kg_cdc(
            spark,
            turns_dir,
            None,
            TableIO(spark, base=str(WORK / "cdcc_wh")),
            checkpoint_dir=str(WORK / "cdcc_ckpt"),
            components=True,
        ),
    )
    # CDC fold with per-batch salience maintenance (warm-start PageRank,
    # 3 rounds/batch) — the delta vs kg_cdc_stream prices the
    # incremental re-rank add-on
    timed(
        "kg_cdc_stream_salience",
        n_turns,
        lambda: run_kg_cdc(
            spark,
            turns_dir,
            None,
            TableIO(spark, base=str(WORK / "cdcs_wh")),
            checkpoint_dir=str(WORK / "cdcs_ckpt"),
            salience=True,
        ),
    )
    # CDC fold with per-batch community maintenance (warm-chained LPA,
    # 3 rounds/batch) — the delta vs kg_cdc_stream prices the
    # incremental re-cluster add-on
    timed(
        "kg_cdc_stream_communities",
        n_turns,
        lambda: run_kg_cdc(
            spark,
            turns_dir,
            None,
            TableIO(spark, base=str(WORK / "cdcm_wh")),
            checkpoint_dir=str(WORK / "cdcm_ckpt"),
            communities=True,
        ),
    )

    print(
        json.dumps(
            {
                "metric": "stream_bench",
                "cpus": int(CPUS),
                "n_docs": N_DOCS,
                "n_turns": n_turns,
                "streams": results,
            }
        ),
        flush=True,
    )
    print("\n| stream | input rows | micro-batches | wall sec | rows/s |")
    print("|---|---|---|---|---|")
    for k, v in results.items():
        print(
            f"| {k} | {v['rows']} | {v['micro_batches']} | "
            f"{v['wall_sec']} | {v['rows_per_sec']} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
