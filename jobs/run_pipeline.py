"""spark-submit entry point: full KG construction over a transcripts table.

Cluster usage (north rule: spark-submit --py-files at N / 4N executors):

    zip -r kg.zip knowledge_graph_spark
    spark-submit --py-files kg.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.local.type=hadoop \
      --conf spark.sql.catalog.local.warehouse=s3a://bucket/warehouse \
      jobs/run_pipeline.py --input local.db.transcripts --iceberg local \
      --output s3a://bucket/kg_out

Sandbox usage (parquet fallback, local master):

    python jobs/run_pipeline.py --input /root/testdata/sf0.01 --from-events \
      --output /tmp/kg_out

The stages, their order and the transcripts placement are
``knowledge_graph_spark.pipeline.STAGES``; this job runs each one through
``knowledge_graph_spark.checkpoint.StageRunner``: re-running with the same
--output resumes after the last completed stage; pass --force to rebuild
everything.
"""

from __future__ import annotations

import argparse
import sys
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from knowledge_graph_spark.checkpoint import StageRunner  # noqa: E402
from knowledge_graph_spark.io import TableIO  # noqa: E402
from knowledge_graph_spark.pipeline import SOURCE, STAGES, PipelineConfig, source  # noqa: E402
from knowledge_graph_spark.session import get_spark  # noqa: E402
from knowledge_graph_spark.synth import transcripts_from_events  # noqa: E402


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="transcripts table/path (or sf dir with --from-events)")
    p.add_argument("--output", required=True, help="output warehouse dir")
    p.add_argument("--from-events", action="store_true", help="derive transcripts from an events parquet dir")
    p.add_argument("--iceberg", default=None, help="Iceberg catalog name (omit for parquet)")
    p.add_argument("--chunk-size", type=int, default=1200)
    p.add_argument("--chunk-overlap", type=int, default=100)
    p.add_argument("--tokenizer", default="auto")
    p.add_argument("--max-cluster-size", type=int, default=10)  # reference leiden.py:13
    p.add_argument("--force", action="store_true", help="ignore existing checkpoints")
    p.add_argument("--master", default=None)
    return p.parse_args(argv)


def main(argv=None) -> dict:
    args = parse_args(argv)
    spark = get_spark(app_name="kg-construct", master=args.master)
    runner = StageRunner(TableIO(spark, base=args.output, catalog=args.iceberg))
    if args.force:
        runner.clear()

    if args.from_events:
        transcripts = transcripts_from_events(spark, args.input)
    elif args.iceberg:
        transcripts = spark.read.format("iceberg").load(args.input)
    else:
        transcripts = spark.read.parquet(args.input)

    cfg = PipelineConfig(
        chunk_size=args.chunk_size,
        chunk_overlap=args.chunk_overlap,
        tokenizer=args.tokenizer,
        max_cluster_size=args.max_cluster_size,
        persist_intermediate=True,
    )
    t = source(transcripts)
    for stage in STAGES:
        t[stage.name] = runner.run(
            stage.name,
            partial(stage.make, t, cfg),
            inputs=[i for i in stage.inputs if i != SOURCE],
            bucket_by=stage.bucket_by,
        )
        if stage.name == "edges" and "split_records" in t:
            # nodes and edges are committed: release the parse they shared
            t.pop("split_records").unpersist()

    summary = {
        "computed": runner.computed,
        "skipped": runner.skipped,
        "rows": {
            key: runner.manifest(name)["rows"]
            for key, name in (
                ("nodes", "nodes_final"),
                ("edges", "edges_final"),
                ("communities", "communities"),
                ("claims", "claims"),
                ("community_reports", "community_reports"),
            )
        },
    }
    print(summary)
    return summary


if __name__ == "__main__":
    main()
