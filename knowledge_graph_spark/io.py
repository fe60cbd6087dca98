"""Table IO seam: Iceberg on a real cluster, parquet in the sandbox.

The reference checkpoints to loose files (GraphML/CSV/JSON — SURVEY.md
§2.1 S5-S8); here every stage boundary is a table.  ``TableIO`` hides the
format so the pipeline code is identical in both environments:

- **Iceberg** (``catalog`` set): ``df.writeTo(catalog.db.name)
  .createOrReplace()`` — snapshots give time travel and MERGE gives the
  incremental-union semantics (reference utils/graph.py:68-177) for free.
  The runtime jars are not in this sandbox, so this path is exercised on
  clusters via spark-submit --conf (see jobs/run_pipeline.py docstring).
- **Parquet directory** (default): ``{base}/{name}`` with
  overwrite-by-rewrite; partition columns preserved.

Writes are atomic-by-rename at the directory level (Spark's committer),
and `checkpoint.py` layers marker files + lineage manifests on top.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def _schema_from_json(schema_json: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(schema_json))


CORRUPT_COL = "_corrupt_record"


def read_jsonl(spark: SparkSession, path: str, schema_ddl: str) -> DataFrame:
    """Corrupt-tolerant JSONL source — the interchange format most raw
    text corpora arrive in.  An explicit schema is mandatory at scale
    (schema inference is a full extra pass over 100 TB); malformed lines
    land in ``_corrupt_record`` instead of killing the job, so ingestion
    can quarantine them (count, sample, route to a dead-letter table)
    rather than choose between crash and silent drop.

    Spark gotcha baked in here: a query that references ONLY the corrupt
    column is disallowed (the parser would have nothing to parse), so
    quarantine filters must select at least one data column alongside it
    or cache the frame first."""
    from pyspark.sql.types import StringType, StructType

    schema = StructType.fromDDL(schema_ddl).add(CORRUPT_COL, StringType())
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSONL sink (newline-delimited, one object per row) — the export
    twin of ``read_jsonl``; downstream tokenizer/training jobs consume
    this directly."""
    df.write.mode("overwrite").json(path)


@dataclass
class TableIO:
    spark: SparkSession
    base: str
    catalog: str | None = None  # e.g. "local.kg" → Iceberg identifiers
    db: str = "kg"

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.db}.{name}"

    def path(self, name: str) -> str:
        return f"{self.base}/{name}"

    def write(self, df: DataFrame, name: str) -> None:
        if self.catalog:
            df.writeTo(self._ident(name)).using("iceberg").createOrReplace()
            return
        df.write.mode("overwrite").parquet(self.path(name))

    def read(self, name: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.format("iceberg").load(self._ident(name))
        return self.spark.read.parquet(self.path(name))

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Bucketed materialization for shuffle-free co-located joins.

        The node/edge tables are repeatedly joined on entity name
        (degrees, rank, communities, canonicalization).  Bucketing both
        sides by the join key at write time lets every later equi-join
        skip its Exchange entirely (tests/test_checkpoint_resume.py).
        ``n_buckets`` has no default: it sets the task count of every
        bucketed scan of the table, and a join against a shuffled frame
        adds no exchange only when the two widths agree (otherwise one
        side is re-shuffled to the other's width), so ``StageRunner``
        passes the session's shuffle width
        (``partitioning.shuffle_width``).  Iceberg path: bucket partition
        transform (storage-partitioned joins); parquet path: Spark
        managed bucketed table (bucketBy requires saveAsTable)."""
        if self.catalog:
            from pyspark.sql import functions as F

            (
                df.writeTo(self._ident(name))
                .using("iceberg")
                .partitionedBy(F.bucket(n_buckets, F.col(bucket_cols[0])))
                .createOrReplace()
            )
            return
        w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        table = self.bucketed_table(name)
        self.spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        # external table: DROP leaves files — clear the path so stale
        # bucket files from a previous run never mix into the new table
        self.delete(name)
        w.option("path", self.path(name)).saveAsTable(table)

    def bucketed_table(self, name: str) -> str:
        """Session-catalog name of the bucketed table at ``path(name)``.
        Keyed by location: two outputs' same-named stages must never
        resolve to each other's files."""
        digest = hashlib.sha1(self.path(name).encode("utf-8")).hexdigest()[:16]
        return f"{name}_{digest}"

    def read_bucketed(self, name: str) -> DataFrame:
        return self.spark.table(self.bucketed_table(name)) if not self.catalog else self.read(name)

    def ensure_bucketed(
        self,
        name: str,
        schema_json: str,
        bucket_cols: list[str],
        n_buckets: int,
    ) -> None:
        """Re-register a bucketed table in a FRESH session (resume path):
        the default in-memory catalog forgets table metadata across
        sessions, and without the bucket spec a plain parquet read loses
        the exchange-free join property the bucketing bought.  Registers
        an external bucketed table over the existing files (bucket ids
        are recovered from the bucketed file names)."""
        table = self.bucketed_table(name)
        if self.catalog or self.spark.catalog.tableExists(table):
            return
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in _schema_from_json(schema_json).fields
        )
        self.spark.sql(
            f"CREATE TABLE `{table}` ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({', '.join(bucket_cols)}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{self.path(name)}'"
        )

    def exists(self, name: str) -> bool:
        if self.catalog:
            return self.spark.catalog.tableExists(self._ident(name))
        # cheap filesystem probe via the JVM's hadoop FS (works for any
        # supported scheme: file://, hdfs://, s3a://)
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self.path(name))
        return p.getFileSystem(conf).exists(p)

    # -- small-file IO through the same Hadoop FS as the tables ----------
    # Manifests/markers must live NEXT TO the data on any scheme; pathlib
    # would mangle URIs (s3a://bucket → s3a:/bucket) and silently write to
    # the driver's local disk.

    def _fs_path(self, relpath: str):
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(f"{self.base}/{relpath}")
        return p.getFileSystem(conf), p

    def write_text(self, relpath: str, text: str) -> None:
        fs, p = self._fs_path(relpath)
        out = fs.create(p, True)  # overwrite
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, relpath: str) -> str | None:
        fs, p = self._fs_path(relpath)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            jvm = self.spark.sparkContext._jvm
            return jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def text_exists(self, relpath: str) -> bool:
        fs, p = self._fs_path(relpath)
        return fs.exists(p)

    def remove(self, relpath: str) -> None:
        """Recursively delete a file or directory under ``base``."""
        fs, p = self._fs_path(relpath)
        if fs.exists(p):
            fs.delete(p, True)

    def compact(self, name: str, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Rewrite a table into size-targeted files.

        Incremental/streaming commits accumulate one file set per
        micro-batch; at corpus scale the listing and task-per-file costs
        of thousands of small files dominate every later scan, so
        compaction is a standing maintenance op (Iceberg calls it
        rewrite_data_files — used verbatim on the catalog path).  The
        parquet path sizes the output from the actual on-disk bytes
        (ceil(bytes / target)), rewrites with coalesce — a narrow,
        shuffle-free repack — and swaps directories via rename, keeping
        the previous files until the new set is fully written.  The
        parquet path assumes an unpartitioned layout (stage tables here
        are unpartitioned); partition-aware rewrites go through the
        Iceberg procedure.  Returns {files_before, files_after, bytes}."""
        if self.catalog:
            self.spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => '{self.db}.{name}', "
                f"options => map('target-file-size-bytes', '{target_file_bytes}'))"
            )
            return {}
        fs, p = self._fs_path(name)

        def data_files(path):
            # only data files: skip committer markers (_SUCCESS) and
            # hidden files
            return [
                st
                for st in fs.listStatus(path)
                if st.isFile() and not st.getPath().getName().startswith(("_", "."))
            ]

        before = data_files(p)
        total_bytes = sum(st.getLen() for st in before)
        files_before = len(before)
        n_files = max(1, -(-total_bytes // target_file_bytes))
        df = self.spark.read.parquet(self.path(name))
        tmp = f"{name}__compacting"
        df.coalesce(int(n_files)).write.mode("overwrite").parquet(self.path(tmp))
        old = f"{name}__precompact"
        self.delete(old)
        jvm = self.spark.sparkContext._jvm
        fs.rename(p, jvm.org.apache.hadoop.fs.Path(self.path(old)))
        fs.rename(jvm.org.apache.hadoop.fs.Path(self.path(tmp)), p)
        self.delete(old)
        files_after = len(data_files(p))
        return {
            "files_before": int(files_before),
            "files_after": int(files_after),
            "bytes": int(total_bytes),
        }

    def table_stats(self, name: str) -> dict:
        """{files, bytes} of a materialized table — recursive walk (a
        partitioned write nests data files under key directories), data
        files only (committer markers and hidden files skipped)."""
        fs, p = self._fs_path(name)
        files = 0
        total = 0
        stack = [p]
        while stack:
            cur = stack.pop()
            for st in fs.listStatus(cur):
                nm = st.getPath().getName()
                if st.isFile():
                    if not nm.startswith(("_", ".")):
                        files += 1
                        total += st.getLen()
                elif not nm.startswith(("_", ".")):
                    stack.append(st.getPath())
        return {"files": int(files), "bytes": int(total)}

    def delete(self, name: str) -> None:
        """Drop a table (best-effort; used for version GC)."""
        if self.catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(name)}")
            return
        self.remove(name)
