"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; the configs below
are the ones that matter at 100 TB on 1000 executors and are harmless at
local[32]:

- AQE (+ skew-join splitting) so the Zipf-skewed entity-name shuffles are
  re-planned at runtime.
- Arrow for every pandas UDF (the extraction kernels are Arrow-batched).
- shuffle.partitions = 2× cores.  MEASURED, not folklore: at 4M turns on
  local[32], partitions == cores collapsed the pipeline to 233s (32 fat
  tasks of multi-hundred-MB record strings → GC thrash), while 64/96
  partitions ran 38/44s — smaller tasks bound the per-task transient
  working set.  On a real cluster the same 2-3× total-cores sizing is set
  per-job via spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 2 * int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(cap_mb: int = 24 * 1024) -> str:
    """A quarter of physical RAM, capped at ``cap_mb``, as a Spark size:
    the driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset, so a job
    next to another JVM on the same host still leaves both room."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(cap_mb, ram_mb // 4)}m"


def get_spark(
    app_name: str = "knowledge_graph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster the caller passes ``None`` and lets spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan partitioning under .persist(): without this,
        # cached subtrees pin their pre-AQE partition count, so iterative
        # operators over small cached frames (graph walks, hub tables at
        # low SF) schedule full shuffle.partitions-width stages of
        # near-empty tasks — pure scheduling overhead.  At scale AQE
        # still sizes partitions by bytes, so this only ever removes
        # degenerate tiny tasks.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        # deterministic outputs: never silently broadcast a table whose
        # contents we expect to aggregate; AQE still promotes joins it can
        # prove small.  Default 10 MB threshold is kept.
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
