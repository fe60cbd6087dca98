"""Tumbling-window rollup and KG version diff (operators/temporal.py)."""

from __future__ import annotations

import datetime as dt

from knowledge_graph_spark.operators.temporal import window_rollup


def test_window_rollup_buckets_and_sums(spark):
    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 10), 7, "a", 1.10, "{}"),
            (2, dt.datetime(2024, 1, 1, 0, 50), 7, "a", 2.20, "{}"),
            (3, dt.datetime(2024, 1, 1, 1, 5), 7, "a", 4.40, "{}"),
            (4, dt.datetime(2024, 1, 1, 0, 30), 7, "b", 8.00, "{}"),
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    )
    rows = {(r.window_start_us, r.event_type): r for r in window_rollup(ev).collect()}
    h0 = int(dt.datetime(2024, 1, 1, 0, 0, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    h1 = h0 + 3600 * 1_000_000
    assert rows[(h0, "a")].n_events == 2 and abs(rows[(h0, "a")].total_value - 3.30) < 1e-12
    assert rows[(h1, "a")].n_events == 1
    assert rows[(h0, "b")].total_value == 8.00


def test_window_rollup_streaming(spark, tmp_path):
    """The same window_rollup expression must run under Structured
    Streaming (F.window as the streaming group key)."""
    inp = str(tmp_path / "ev")
    ddl = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 10), 7, "a", 1.10, "{}"),
            (2, dt.datetime(2024, 1, 1, 1, 5), 7, "a", 4.40, "{}"),
        ],
        ddl,
    ).write.parquet(inp)
    stream = spark.readStream.schema(ddl).parquet(inp)
    q = (
        window_rollup(stream, "1 hour")
        .writeStream.format("memory")
        .queryName("wr_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r.window_start_us, r.event_type): r for r in spark.sql("SELECT * FROM wr_test").collect()}
    h0 = int(dt.datetime(2024, 1, 1, 0, 0, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert rows[(h0, "a")].n_events == 1
    assert rows[(h0 + 3_600_000_000, "a")].total_value == 4.40


def test_kg_version_diff_statuses(spark):
    """added/removed/changed/same classification and signed delta on a
    hand diff (temporal.kg_version_diff)."""
    from knowledge_graph_spark.operators.temporal import kg_version_diff

    old = spark.createDataFrame(
        [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 3.0)],
        "source string, target string, weight double",
    )
    new = spark.createDataFrame(
        [("a", "b", 2.0), ("a", "c", 4.0), ("c", "d", 1.0)],
        "source string, target string, weight double",
    )
    rows = {
        (r.source, r.target): (r.status, r.delta)
        for r in kg_version_diff(old, new).collect()
    }
    assert rows == {
        ("a", "b"): ("same", 0.0),
        ("a", "c"): ("changed", 3.0),
        ("b", "c"): ("removed", -3.0),
        ("c", "d"): ("added", 1.0),
    }
