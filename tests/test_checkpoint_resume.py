"""Checkpoint/lineage/resume tests (M6): idempotent stage re-runs,
manifest contents, and the spark-submit job driver end-to-end."""

from __future__ import annotations

import json
import re
from functools import partial
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.checkpoint import StageRunner, content_fingerprint
from knowledge_graph_spark.io import TableIO
from knowledge_graph_spark.operators.community import label_propagation
from knowledge_graph_spark.partitioning import shuffle_width
from knowledge_graph_spark.pipeline import SOURCE, STAGES, PipelineConfig, source


@pytest.fixture()
def io(spark, tmp_path):
    return TableIO(spark, base=str(tmp_path / "wh"))


def test_stage_runner_computes_then_skips(spark, io):
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))

    r1 = StageRunner(io)
    df1 = r1.run("double", make, inputs=[])
    assert df1.count() == 10 and calls["n"] == 1 and r1.computed == ["double"]

    r2 = StageRunner(io)
    df2 = r2.run("double", make, inputs=[])
    assert calls["n"] == 1  # resume: make() not called again
    assert r2.skipped == ["double"]
    assert sorted(t["v"] for t in df2.collect()) == sorted(t["v"] for t in df1.collect())


def test_manifest_records_lineage_and_fingerprint(spark, io):
    r = StageRunner(io)
    a = r.run("a", lambda: spark.range(5).select(F.col("id")), inputs=[])
    r.run("b", lambda: a.select((F.col("id") + 1).alias("id")), inputs=["a"])
    mb = json.loads((Path(io.base) / "_manifests" / "b.json").read_text())
    assert mb["rows"] == 5
    assert mb["inputs"]["a"] == json.loads(
        (Path(io.base) / "_manifests" / "a.json").read_text()
    )["fingerprint"]
    assert sum(mb["partition_rows"]) == 5
    assert mb["schema"].startswith("struct<id")
    # stage metrics: wall clock and materialized footprint
    assert mb["wall_s"] > 0
    assert mb["bytes"] > 0 and mb["files"] >= 1


def test_readback_is_one_spark_action(spark, io, monkeypatch):
    """After the stage write, run() submits ONE Spark action: the row
    count, per-partition profile and fingerprint come from one
    aggregation, with the values the separate passes give."""
    sc = spark.sparkContext
    group = "readback-probe"
    write = TableIO.write

    def write_then_tag(self, df, name):
        write(self, df, name)
        sc.setLocalProperty("spark.jobGroup.id", group)

    monkeypatch.setattr(TableIO, "write", write_then_tag)
    try:
        out = StageRunner(io).run("s", lambda: spark.range(100).repartition(3), inputs=[])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    readback_jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    actions = set()
    for i in range(executions.size()):
        e = executions.apply(i)
        jobs = {int(j) for j in e.jobs().keys().mkString(",").split(",") if j}
        if jobs & readback_jobs:
            actions.add(e.executionId())
    assert len(actions) == 1

    m = json.loads((Path(io.base) / "_manifests" / "s.json").read_text())
    profile = out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    assert m["rows"] == out.count() == 100
    assert m["partition_rows"] == [r["count"] for r in sorted(profile)]
    assert m["fingerprint"] == content_fingerprint(out)


def test_bucketed_resume_reads_its_own_output(spark, tmp_path):
    """Two outputs with a same-named bucketed stage: resuming one must
    serve its own files, not the table the other output registered last."""

    def titles(*values):
        return lambda: spark.createDataFrame([(v,) for v in values], "title string")

    io_a = TableIO(spark, base=str(tmp_path / "a"))
    io_b = TableIO(spark, base=str(tmp_path / "b"))
    StageRunner(io_a).run("nodes", titles("A1", "A2"), bucket_by=["title"])
    StageRunner(io_b).run("nodes", titles("B1"), bucket_by=["title"])
    resumed = StageRunner(io_a)
    got = resumed.run("nodes", titles("unused"), bucket_by=["title"])
    assert resumed.skipped == ["nodes"]
    assert sorted(r.title for r in got.collect()) == ["A1", "A2"]


def test_fingerprint_is_order_insensitive(spark):
    df = spark.range(100).select(F.col("id"))
    shuffled = df.repartition(7)
    assert content_fingerprint(df) == content_fingerprint(shuffled)
    assert content_fingerprint(df) != content_fingerprint(df.filter(F.col("id") < 99))


def test_crash_between_write_and_manifest_reruns(spark, io):
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(3).toDF("id")

    r = StageRunner(io)
    r.run("s", make, inputs=[])
    # simulate crash AFTER table write but BEFORE commit: delete manifest
    (Path(io.base) / "_manifests" / "s.json").unlink()
    StageRunner(io).run("s", make, inputs=[])
    assert calls["n"] == 2  # stage re-ran (manifest is the commit marker)


def test_job_driver_end_to_end_and_resume(spark, tmp_path):
    import jobs.run_pipeline as job

    out = str(tmp_path / "kg_out")
    argv = [
        "--input", "/root/testdata/sf0.001", "--from-events",
        "--output", out, "--chunk-size", "128", "--chunk-overlap", "16",
        "--tokenizer", "ws", "--master", "local[4]",
    ]
    s1 = job.main(argv)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert s1["rows"]["nodes"] == 19 and s1["rows"]["edges"] == 161
    assert s1["rows"]["claims"] > 0 and s1["rows"]["community_reports"] >= 1
    assert not s1["skipped"]
    # one composition: the job computes exactly the pipeline's stage list
    assert s1["computed"] == [stage.name for stage in STAGES]

    # the flat communities table is the LPA gated against DuckDB
    # (communities_lpa), run on the job's own graph
    want = label_propagation(
        spark.read.parquet(f"{out}/nodes"), spark.read.parquet(f"{out}/edges")
    )
    got = spark.read.parquet(f"{out}/communities")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # leveled reports carry the full reference record shape (typing.py:8-18)
    # plus the mixed-context diagnostics
    rep = spark.read.parquet(f"{out}/community_reports")
    assert {
        "id", "community", "title", "summary", "full_content",
        "full_content_json", "rank", "rank_explanation", "findings", "level",
        "human_readable_id", "context_tokens", "exceeds_budget", "n_substituted",
    } <= set(rep.columns)
    assert rep.filter(F.col("level") == 0).count() >= 1
    one = rep.filter(F.col("level") == 0).orderBy("community").first()
    assert json.loads(one.full_content_json)["title"] == one.title
    assert len(one.findings) >= 1 and one.findings[0].summary

    s2 = job.main(argv)  # resume: everything checkpointed
    assert not s2["computed"]
    assert set(s2["skipped"]) == set(s1["computed"])
    assert s2["rows"] == s1["rows"]

    # post-resume bucketed join: nodes came back through the bucket-aware
    # read path, so a merge join against a co-bucketed table needs no
    # Exchange on the nodes side
    io2 = TableIO(spark, base=out)
    nodes_resumed = io2.read_bucketed("nodes")
    probe = nodes_resumed.select("title", "type")
    n_buckets = StageRunner(io2).manifest("nodes")["n_buckets"]
    io2.write_bucketed(probe, "probe_nodes", ["title"], n_buckets)
    j = nodes_resumed.hint("merge").join(io2.read_bucketed("probe_nodes"), "title")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "Exchange hashpartitioning" not in plan
    spark.sql(f"DROP TABLE IF EXISTS `{io2.bucketed_table('probe_nodes')}`")

    # --force through a URI output recomputes every stage, and the parse
    # cache the nodes and edges stages share is released again
    uri_argv = [f"file://{out}" if a == out else a for a in argv]
    s3 = job.main(uri_argv + ["--force"])
    assert s3["computed"] == s1["computed"] and not s3["skipped"]
    assert s3["rows"] == s1["rows"]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_bucketed_stages_take_the_shuffle_width(spark, io):
    """The job's bucketed stages are written into as many buckets as the
    session's shuffle width, so a scan of nodes runs that many tasks and
    a merge join of nodes with a frame grouped by title shuffles once:
    the grouping, not the nodes side, and not at a second width."""
    cfg = PipelineConfig(chunk_size=128, chunk_overlap=16, tokenizer="ws")
    turns = [
        (f"c{i}", j, "user" if j % 2 == 0 else "assistant", f"ACME ships parts to GLOBEX in BERLIN {i}")
        for i in range(6)
        for j in range(3)
    ]
    t = source(spark.createDataFrame(turns, "conv_id string, turn_idx int, role string, text string"))
    runner = StageRunner(io)
    # the job's stage loop, up to the last bucketed stage
    last = max(i for i, stage in enumerate(STAGES) if stage.bucket_by)
    for stage in STAGES[: last + 1]:
        t[stage.name] = runner.run(
            stage.name,
            partial(stage.make, t, cfg),
            inputs=[i for i in stage.inputs if i != SOURCE],
            bucket_by=stage.bucket_by,
        )
    width = shuffle_width(spark)
    bucketed = [stage.name for stage in STAGES if stage.bucket_by]
    assert bucketed == ["nodes", "edges"]
    assert [runner.manifest(name)["n_buckets"] for name in bucketed] == [width, width]

    nodes = io.read_bucketed("nodes")
    grouped = io.read("nodes").groupBy("title").agg(F.count("*").alias("n"))
    j = nodes.hint("merge").join(grouped, "title")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert f"SelectedBucketsCount: {width} out of {width}" in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 1, exchanges
    assert re.search(rf"Exchange hashpartitioning\(title#\d+, {width}\)", exchanges[0])
    assert j.rdd.getNumPartitions() == width
    assert j.count() == runner.manifest("nodes")["rows"]


def test_shuffle_width_falls_back_on_non_numeric_conf():
    """``spark.sql.shuffle.partitions=auto`` (set by some platforms) is
    not a number: the width is then the default parallelism."""

    def session(value):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: {"spark.sql.shuffle.partitions": value}[key]),
            sparkContext=SimpleNamespace(defaultParallelism=6),
        )

    assert shuffle_width(session("auto")) == 6
    assert shuffle_width(session("12")) == 12


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Both sides bucketed by the join key → the equi-join plan contains
    no Exchange (the co-located-join strategy for node/edge tables)."""
    io = TableIO(spark, base=str(tmp_path / "bwh"))
    nodes = spark.range(1000).select(
        F.concat(F.lit("E"), F.col("id")).alias("title"), (F.col("id") % 7).alias("v")
    )
    degrees = spark.range(1000).select(
        F.concat(F.lit("E"), F.col("id")).alias("title"), (F.col("id") % 5).alias("degree")
    )
    io.write_bucketed(nodes, "bt_nodes", ["title"], n_buckets=8, sort_cols=["title"])
    io.write_bucketed(degrees, "bt_degrees", ["title"], n_buckets=8, sort_cols=["title"])
    try:
        # force sort-merge (the at-scale strategy; broadcast would hide
        # the shuffle question entirely) and assert no shuffle Exchange
        joined = (
            io.read_bucketed("bt_nodes")
            .hint("merge")
            .join(io.read_bucketed("bt_degrees"), "title")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan
        assert joined.count() == 1000
    finally:
        for name in ("bt_nodes", "bt_degrees"):
            spark.sql(f"DROP TABLE IF EXISTS `{io.bucketed_table(name)}`")


def test_compact_repacks_small_files(spark, tmp_path):
    """A many-file table (streaming-commit shape) compacts to the
    byte-targeted file count with identical contents."""
    from knowledge_graph_spark.io import TableIO

    io = TableIO(spark, base=str(tmp_path / "wh"))
    df = spark.range(10_000).selectExpr("id", "id * 2 AS v").repartition(32)
    io.write(df, "t")
    before = {(r.id, r.v) for r in io.read("t").collect()}
    stats = io.compact("t", target_file_bytes=1 << 30)
    assert stats["files_before"] >= 32
    assert stats["files_after"] == 1
    assert {(r.id, r.v) for r in io.read("t").collect()} == before
