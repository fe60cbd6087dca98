"""spark-submit entry point: streaming KG maintenance (inserts + deletes).

Drains the transcript insert stream and (optionally) a conv_id delete
stream into versioned node/edge tables — the CDC companion of
jobs/run_pipeline.py for corpora that keep arriving AND keep shrinking
(user-data removal, contaminated-source takedowns).  Insert batches
fold as graph unions plus one appended record segment; delete batches
anti-join the accumulated segments and re-run the merge only, so
extraction never re-runs at 10^12-turn scale.  Exactly-once via the
versioned single-marker commit protocol (streaming/commit.py);
re-running with the same --checkpoint resumes and replays nothing.

Cluster usage (north rule: spark-submit --py-files at N / 4N executors):

    zip -r kg.zip knowledge_graph_spark
    spark-submit --py-files kg.zip \
      --conf spark.sql.adaptive.enabled=true \
      jobs/run_kg_stream.py --inserts s3a://bucket/arrivals \
      --deletes s3a://bucket/takedowns \
      --output s3a://bucket/kg_stream --checkpoint s3a://bucket/kg_ckpt

Sandbox usage:

    python jobs/run_kg_stream.py --inserts /tmp/ins --deletes /tmp/dels \
      --output /tmp/kg_stream --checkpoint /tmp/kg_ckpt
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from knowledge_graph_spark.io import TableIO  # noqa: E402
from knowledge_graph_spark.pipeline import PipelineConfig  # noqa: E402
from knowledge_graph_spark.session import get_spark  # noqa: E402
from knowledge_graph_spark.streaming import commit  # noqa: E402
from knowledge_graph_spark.streaming.retract_stream import (  # noqa: E402
    CDC_MARKER,
    run_kg_cdc,
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--inserts", required=True, help="transcript parquet arrival dir")
    p.add_argument("--deletes", default=None, help="conv_id parquet takedown dir")
    p.add_argument("--output", required=True, help="warehouse dir for the KG tables")
    p.add_argument("--checkpoint", required=True, help="streaming checkpoint root")
    p.add_argument("--master", default=None, help="override master (default: submit-provided)")
    p.add_argument("--chunk-size", type=int, default=1200)
    p.add_argument("--chunk-overlap", type=int, default=100)
    p.add_argument(
        "--components",
        action="store_true",
        help="also maintain the canonical-component table per fold "
        "(warm-started on inserts, cold after deletes)",
    )
    p.add_argument(
        "--salience",
        action="store_true",
        help="also maintain the entity-PageRank salience table per fold "
        "(warm-started on every fold — approximation contract, see "
        "retract_stream._fold_salience)",
    )
    p.add_argument(
        "--communities",
        action="store_true",
        help="also maintain the weighted-LPA community table per fold "
        "(warm-chained on every fold — see retract_stream._fold_communities)",
    )
    p.add_argument(
        "--claims",
        action="store_true",
        help="also maintain the V1-V5 claim/covariate table per fold "
        "(claim extraction runs once per conversation at insert time; "
        "deletes anti-join the parsed-claim segments and re-run the "
        "merge tail only — see retract_stream._fold_claims)",
    )
    p.add_argument(
        "--changelog",
        action="store_true",
        help="also emit the per-fold edge change feed changelog__v{k} "
        "(added/removed/changed rows only — see retract_stream._fold_changelog)",
    )
    args = p.parse_args(argv)

    spark = get_spark(master=args.master)
    io = TableIO(spark, base=args.output)
    cfg = PipelineConfig(chunk_size=args.chunk_size, chunk_overlap=args.chunk_overlap)
    run_kg_cdc(
        spark, args.inserts, args.deletes, io, args.checkpoint, cfg,
        components=args.components, salience=args.salience,
        communities=args.communities, changelog=args.changelog,
        claims=args.claims,
    )
    version = commit.state(io, CDC_MARKER)["version"]
    if version < 0:
        print("kg_stream committed: no batches arrived (empty input dirs)")
        return 0

    def _count(name: str) -> str:
        # A maintained table can legitimately be absent at the committed
        # version even when its flag is on (e.g. --claims enabled on a
        # run whose only batch was a delete against a pre-claims
        # deployment: the fold advances the version without a claims
        # table) — report "absent" rather than fail a committed fold.
        table = f"{name}__v{version}"
        return str(io.read(table).count()) if io.exists(table) else "absent"

    line = f"kg_stream committed: nodes={_count('nodes')} edges={_count('edges')}"
    if args.components:
        line += f" components={_count('components')}"
    if args.salience:
        line += f" salience={_count('salience')}"
    if args.communities:
        line += f" communities={_count('communities')}"
    if args.claims:
        line += f" claims={_count('claims')}"
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
