"""Parallelism guards for CPU-heavy narrow stages.

At 100 TB a parquet scan arrives in thousands of splits and every core
has work.  At the small end — one 5 MB file → ONE partition — a
CPU-heavy narrow transform (n-gram explode, per-window fingerprinting)
runs on a single core while 31 idle, and no Spark config can split it
further (parquet splits at row-group granularity).  `widen` repartitions
ONLY when the input is narrower than the requested parallelism, so the
big-data path never pays an extra shuffle and the small-file path stops
serializing the whole scan onto one core.

Values are row-identical either way (round-robin repartition reorders
rows only); callers must therefore be order-insensitive — true for every
aggregate/join consumer in this repo.

``shuffle_width`` is the one reading of the session's shuffle width.
The transcripts placement and the bucket count of the checkpointed
tables both take it, so their hash layouts agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width: ``spark.sql.shuffle.partitions`` as
    an integer.  Some platforms set the conf to a non-numeric value such
    as ``auto``; the width is then the cluster's default parallelism."""
    value = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(value)
    except ValueError:
        return spark.sparkContext.defaultParallelism


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` iff its current partitioning is narrower than
    ``min_partitions`` (default: the cluster's default parallelism).
    Checking the partition count inspects the physical plan without
    running a job."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def checkpoint_fresh(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` that also RESETS the frame's size statistics.

    Spark 4's ``Dataset.localCheckpoint`` rewrites the truncated
    LogicalRDD's stats from the parent plan
    (``LogicalRDD.rewriteStatsAndConstraints``), so a checkpointed frame
    INHERITS the size-in-bytes product of the plan it replaced.  Size
    products are BigInts; a SELF-join of such a frame squares the carried
    value, and k generations of square-then-checkpoint (iterative graph
    kernels: pointer doubling, label fixpoints) put 2^k-bit BigIntegers
    into SizeInBytesOnlyStatsPlanVisitor — observed as minutes of driver
    CPU in BigInteger.multiplyToomCook3 with ZERO running jobs, each
    generation ~2.8x slower than the last (Toom-Cook is O(n^1.465)).

    Re-wrapping the checkpointed RDD via ``internalCreateDataFrame``
    builds a LogicalRDD with DEFAULT stats, capping every later product
    at 64·#joins bits.  Values and schema are untouched; only optimizer
    metadata changes.  Falls back to the plain checkpoint if the internal
    API moves.
    """
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = ck.sparkSession
        jdf = spark._jsparkSession.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(), ck._jdf.schema(), False
        )
        return DataFrame(jdf, spark)
    except Exception:  # pragma: no cover - connect mode / API drift
        return ck
