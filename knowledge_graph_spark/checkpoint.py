"""Checkpointed stage runner with per-partition lineage manifests.

North-rule requirement: "canonical nodes and deduplicated weighted edges
are materialized as partitioned tables with per-partition lineage
manifests and checkpointed stage boundaries so any stage resumes
idempotently at 10^12-turn scale".  Reference analogue: the ad-hoc file
checkpoints S2/S5-S8 (SURVEY.md §2.1), replaced by a uniform protocol:

For each stage ``name``:
1. if ``{base}/_manifests/{name}.json`` exists and the output table
   exists → SKIP, return ``io.read(name)`` (resume path);
2. else compute the DataFrame, write it via TableIO, then write the
   manifest LAST — the manifest is the commit marker, so a crash between
   table write and manifest write re-runs the stage (write-then-commit,
   idempotent because stage outputs are deterministic overwrites).

The manifest records lineage (input stage names + their manifest
fingerprints), row count, per-partition row counts (skew diagnosable
post-hoc), stage wall-clock and materialized files/bytes (per-stage cost
accounting), and an order-insensitive content fingerprint (xor of row
xxhash64) — stable across shuffle order, so downstream runs can verify an
upstream table hasn't drifted without re-reading it.  Row count,
per-partition counts and fingerprint come from one aggregation over the
read-back table, keyed by partition id: one Spark action per stage.

A stage with bucket columns is written as a bucketed table into
``partitioning.shuffle_width`` buckets, the width every shuffle that
meets it runs at; the manifest records ``bucket_by`` and that
``n_buckets``.  A resume re-registers the table with the recorded count,
so a table written at another width is read back as it was written.
"""

from __future__ import annotations

import json
import time
from functools import reduce
from operator import xor
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .io import TableIO
from .partitioning import shuffle_width

MANIFESTS = "_manifests"


def _row_hash(df: DataFrame) -> Column:
    """xxhash64 over all columns, cast to string for type stability."""
    return F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in df.columns])


def content_fingerprint(df: DataFrame) -> int:
    """Order-insensitive fingerprint: XOR of per-row xxhash64 over all
    columns.  One narrow pass + map-side partial agg; XOR commutes, never
    overflows (ANSI-safe)."""
    return int(df.agg(F.bit_xor(_row_hash(df))).first()[0] or 0)


def _readback(df: DataFrame) -> tuple[list[int], int]:
    """(rows per physical partition, content fingerprint) in ONE action:
    the per-partition XORs combine to the table's XOR."""
    per_partition = df.groupBy(F.spark_partition_id().alias("pid")).agg(
        F.count("*").alias("rows"), F.bit_xor(_row_hash(df)).alias("fp")
    )
    rows = sorted(per_partition.collect())
    return [int(r.rows) for r in rows], reduce(xor, (int(r.fp) for r in rows), 0)


class StageRunner:
    """Sequential checkpointed execution of named pipeline stages."""

    def __init__(self, io: TableIO):
        self.io = io
        self.computed: list[str] = []
        self.skipped: list[str] = []

    def _manifest_rel(self, name: str) -> str:
        # through the table Hadoop FS, so manifests live next to the data
        # on any scheme (file://, hdfs://, s3a://) — pathlib would mangle
        # URIs and strand them on the driver's local disk
        return f"{MANIFESTS}/{name}.json"

    def manifest(self, name: str) -> dict | None:
        text = self.io.read_text(self._manifest_rel(name))
        return json.loads(text) if text is not None else None

    def clear(self) -> None:
        """Forget every checkpoint (``--force``): delete the manifests, so
        each stage recomputes and overwrites its table."""
        self.io.remove(MANIFESTS)

    def is_done(self, name: str, inputs: list[str] | None = None) -> bool:
        """Manifest + table present AND recorded input fingerprints still
        match the current upstream manifests — so recomputing an upstream
        stage (changed input, selective --force) invalidates downstream
        checkpoints instead of silently serving stale outputs."""
        m = self.manifest(name)
        if m is None or not self.io.exists(name):
            return False
        stored = m.get("inputs", {})
        for i in inputs or []:
            cur = (self.manifest(i) or {}).get("fingerprint")
            if stored.get(i) != cur:
                return False
        return True

    def run(
        self,
        name: str,
        make: "callable[[], DataFrame]",
        inputs: list[str] | None = None,
        bucket_by: Sequence[str] = (),
    ) -> DataFrame:
        t0 = time.time()
        if self.is_done(name, inputs):
            self.skipped.append(name)
            m = self.manifest(name) or {}
            if m.get("bucket_by"):
                # fresh-session resume: re-register the bucket spec so
                # downstream equi-joins on the bucket key stay
                # exchange-free (the in-memory catalog forgot it)
                self.io.ensure_bucketed(
                    name, m["schema_json"], m["bucket_by"], m["n_buckets"]
                )
                return self.io.read_bucketed(name)
            return self.io.read(name)
        df = make()
        n_buckets = shuffle_width(self.io.spark) if bucket_by else None
        if bucket_by:
            self.io.write_bucketed(df, name, list(bucket_by), n_buckets)
            out = self.io.read_bucketed(name)
        else:
            self.io.write(df, name)
            out = self.io.read(name)
        partition_rows, fingerprint = _readback(out)
        manifest = {
            "stage": name,
            "rows": sum(partition_rows),
            "partition_rows": partition_rows,
            "inputs": {
                i: (self.manifest(i) or {}).get("fingerprint") for i in (inputs or [])
            },
            "fingerprint": fingerprint,
            "schema": out.schema.simpleString(),
            "schema_json": out.schema.json(),
            "bucket_by": list(bucket_by) or None,
            "n_buckets": n_buckets,
            # stage metrics: compute+write+read-back wall clock and the
            # materialized footprint (skew + cost accounting per stage)
            "wall_s": round(time.time() - t0, 3),
            **self.io.table_stats(name),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self.io.write_text(self._manifest_rel(name), json.dumps(manifest, indent=1))
        self.computed.append(name)
        return out
