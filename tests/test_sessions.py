"""Batch gap-based sessionization (operators/sessions.py)."""

from __future__ import annotations

import datetime as dt

from knowledge_graph_spark.operators.sessions import session_stats, sessionize_events


def _events(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: three events inside one session, then a 31-min gap
        (0, base, 1, "view", 1.25, "{}"),
        (1, base + dt.timedelta(minutes=10), 1, "view", 2.50, "{}"),
        (2, base + dt.timedelta(minutes=40), 1, "purchase", 3.75, "{}"),
        (3, base + dt.timedelta(minutes=71, seconds=1), 1, "view", 4.00, "{}"),
        # user 2: single event
        (4, base, 2, "signup", 10.00, "{}"),
        # user 3: gap of exactly 30 min stays in-session (strict >)
        (5, base, 3, "view", 1.00, "{}"),
        (6, base + dt.timedelta(minutes=30), 3, "view", 1.00, "{}"),
    ]
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )


def test_session_boundaries(spark):
    sess = sessionize_events(_events(spark)).collect()
    by_event = {r.event_id: r for r in sess}
    assert by_event[0].session_id == by_event[1].session_id == by_event[2].session_id == "1-1"
    assert by_event[3].session_id == "1-2"  # 31m1s gap starts a new session
    assert by_event[4].session_id == "2-1"
    # exactly 30 min is NOT a break (strict >)
    assert by_event[5].session_id == by_event[6].session_id == "3-1"


def test_session_stats_values(spark):
    stats = {r.session_id: r for r in session_stats(_events(spark)).collect()}
    s = stats["1-1"]
    assert s.n_events == 3
    assert abs(s.total_value - 7.50) < 1e-12  # decimal-exact sum
    assert s.duration_us == 40 * 60 * 1_000_000
    assert stats["2-1"].n_events == 1 and stats["2-1"].duration_us == 0
    assert stats["3-1"].n_events == 2


def test_single_shuffle_plan(spark):
    """Both windows share partitioning+ordering: the plan must contain
    exactly one Exchange (hash on user_id) before the aggregation."""
    plan = session_stats(_events(spark))._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    # one for the window sort; the groupBy(user_id, session_id) partial agg
    # may add one more — anything beyond that means the windows stopped
    # sharing their sort
    assert n_exchanges <= 2, plan
