"""As-of join + tumbling-window rollup (operators/temporal.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from knowledge_graph_spark.operators.temporal import asof_join, window_rollup


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_asof_backward_match_and_miss(spark):
    left = spark.createDataFrame(
        [(1, 7, _ts(10), 100.0), (2, 7, _ts(30), 200.0), (3, 8, _ts(5), 300.0)],
        "event_id bigint, user_id bigint, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(7, _ts(8), 1.0), (7, _ts(20), 2.0), (9, _ts(1), 9.0)],
        "user_id bigint, ts timestamp, value double",
    )
    out = {r.event_id: r for r in asof_join(left, right).collect()}
    assert out[1].value_r == 1.0  # most recent right at ts<=10 is ts=8
    assert out[2].value_r == 2.0  # ts=20 supersedes ts=8
    assert out[3].value_r is None and out[3].ts_r is None  # user 8: no right rows


def test_asof_equal_ts_matches(spark):
    left = spark.createDataFrame(
        [(1, 7, _ts(10), 0.0)], "event_id bigint, user_id bigint, ts timestamp, value double"
    )
    right = spark.createDataFrame(
        [(7, _ts(10), 5.0)], "user_id bigint, ts timestamp, value double"
    )
    row = asof_join(left, right).collect()[0]
    assert row.value_r == 5.0  # <= semantics: exact-ts right row is visible


def test_asof_dedup_right_deterministic(spark):
    left = spark.createDataFrame(
        [(1, 7, _ts(10), 0.0)], "event_id bigint, user_id bigint, ts timestamp, value double"
    )
    right = spark.createDataFrame(
        [(7, _ts(5), 1.0), (7, _ts(5), 3.0)],
        "user_id bigint, ts timestamp, value double",
    )
    row = asof_join(left, right).collect()[0]
    assert row.value_r == 3.0  # max-payload row survives the (by, ts) dedup


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


def test_asof_single_shuffle(spark):
    left = spark.createDataFrame(
        [(1, 7, _ts(10), 0.0)], "event_id bigint, user_id bigint, ts timestamp, value double"
    )
    right = spark.createDataFrame(
        [(7, _ts(5), 1.0)], "user_id bigint, ts timestamp, value double"
    )
    plan = asof_join(left, right)._jdf.queryExecution().executedPlan().toString()
    # dedup window (user_id, ts) + attach window (user_id) — both hash on
    # user_id-rooted keys; no join operator should appear at all
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_edge_time_ranges_span_and_asof(spark):
    from knowledge_graph_spark.operators.extract import emit_records
    from knowledge_graph_spark.operators.temporal import edge_time_ranges
    from knowledge_graph_spark.operators.assemble import assemble_conversations
    from knowledge_graph_spark.operators.chunk import split_text_units
    from pyspark.sql import functions as F

    rows = [
        ("c1", 0, "user", "USER_1 saw EVT_X on ITEM_1", "", "2024-01-01 10:00:00"),
        ("c1", 1, "assistant", "USER_1 saw EVT_X on ITEM_1", "", "2024-01-01 11:00:00"),
        ("c2", 0, "user", "USER_1 saw EVT_X on ITEM_2", "", "2024-03-05 09:00:00"),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    units = split_text_units(assemble_conversations(t), size=120, overlap=20, tokenizer="ws")
    out = {
        (r.source, r.target): r
        for r in edge_time_ranges(emit_records(units), t).collect()
    }
    pair = out[("ITEM_1", "USER_1")]
    # c1-only edge spans exactly c1's conversation window
    assert str(pair.first_seen) == "2024-01-01 10:00:00"
    assert str(pair.last_seen) == "2024-01-01 11:00:00"
    assert pair.n_convs == 1
    # USER_1↔EVT_X asserted in both conversations: span widens, count = 2
    both = out[("EVT_X", "USER_1")]
    assert str(both.first_seen) == "2024-01-01 10:00:00"
    assert str(both.last_seen) == "2024-03-05 09:00:00"
    assert both.n_convs == 2


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


def test_entity_lifecycle_hand_computed(spark):
    """Lifecycle fields on a hand-built transcript: dedup within a turn,
    exact epochs, distinct convs and hour buckets."""
    import datetime

    from knowledge_graph_spark.operators.temporal import entity_lifecycle

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("c1", 0, "user", "ALPHA met ALPHA here", "", t0),
        ("c1", 1, "user", "ALPHA and BETA", "", t0 + datetime.timedelta(minutes=10)),
        ("c2", 0, "user", "ALPHA again", "", t0 + datetime.timedelta(hours=2)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = {r.title: r.asDict() for r in entity_lifecycle(df).collect()}
    a = out["ALPHA"]
    assert a["n_turns"] == 3  # ALPHA twice in turn 0 counts once
    assert a["n_convs"] == 2
    assert a["n_active_buckets"] == 2  # hour 0 (two turns) + hour 2
    assert a["span_s"] == 7200 and a["last_seen"] - a["first_seen"] == 7200
    b = out["BETA"]
    assert b["n_turns"] == 1 and b["n_convs"] == 1 and b["span_s"] == 0
