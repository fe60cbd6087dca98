"""Agent-trace analytics (agent_trace.py) + the session-5 graph
operators (widest_paths, hits_int).

Each operator is replayed in pure Python over the same small input and
compared exactly — the unit-level analogue of the DuckDB gate oracles.
"""

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.operators.agent_trace import (
    tool_transitions,
    turn_latency,
)
from knowledge_graph_spark.operators.graphops import (
    WIDEST_SEED_STRENGTH,
    widest_paths,
)

# (conv_id, turn_idx, role, text, tool, ts_sec): two conversations with
# interleaved tool calls; c2's lone tool call checks the ^START-only path.
TURNS = [
    ("c1", 0, "user", "hi", "", 100),
    ("c1", 1, "assistant", "hello", "", 107),
    ("c1", 2, "tool", "r", "search", 110),
    ("c1", 3, "tool", "r", "fetch", 118),
    ("c1", 4, "assistant", "done", "", 130),
    ("c1", 5, "tool", "r", "search", 131),
    ("c2", 0, "assistant", "first-turn, no predecessor", "", 50),
    ("c2", 1, "tool", "r", "fetch", 64),
    ("c2", 2, "assistant", "ok", "", 99),
]


@pytest.fixture(scope="module")
def transcripts(spark):
    rows = [(c, i, r, x, tl, ts) for c, i, r, x, tl, ts in TURNS]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts_sec long",
    ).withColumn("ts", F.timestamp_seconds("ts_sec"))


def test_tool_transitions(spark, transcripts):
    got = {
        (r.prev_tool, r.tool): (r.n_transitions, r.n_convs)
        for r in tool_transitions(transcripts).collect()
    }
    assert got == {
        ("^START", "search"): (1, 1),
        ("search", "fetch"): (1, 1),
        ("fetch", "search"): (1, 1),
        ("^START", "fetch"): (1, 1),
    }


def test_turn_latency(spark, transcripts):
    got = {
        r.conv_id: (r.n_responses, r.total_wait_us, r.max_wait_us)
        for r in turn_latency(transcripts).collect()
    }
    # c1: waits 7s (t1) and 12s (t4); c2: 35s (t2) — t0 has no predecessor.
    assert got == {
        "c1": (2, 19_000_000, 12_000_000),
        "c2": (1, 35_000_000, 35_000_000),
    }


WEDGES = [  # weighted path graph plus a triangle: a-b-c-d, b-d, d-e
    ("a", "b", 5.0),
    ("b", "c", 2.0),
    ("c", "d", 7.0),
    ("b", "d", 3.0),
    ("d", "e", 1.0),
]


def _local_widest(edges, seed, rounds):
    adj = defaultdict(dict)
    for u, v, w in edges:
        w = int(w)
        adj[u][v] = max(adj[u].get(v, 0), w)
        adj[v][u] = max(adj[v].get(u, 0), w)
    s = {seed: WIDEST_SEED_STRENGTH}
    for _ in range(rounds):
        nxt = dict(s)
        for u, su in s.items():
            for v, w in adj[u].items():
                cand = min(su, w)
                if cand > nxt.get(v, -1):
                    nxt[v] = cand
        s = nxt
    return s


def test_widest_paths_matches_local_fixpoint(spark):
    edges = spark.createDataFrame(WEDGES, "source string, target string, weight double")
    seeds = spark.createDataFrame([("a",)], "title string")
    for rounds in (1, 4):
        got = {r.title: r.strength for r in widest_paths(edges, seeds, rounds).collect()}
        assert got == _local_widest(WEDGES, "a", rounds)
    # 4 rounds closes this graph: e's bottleneck is min over best path
    got = {r.title: r.strength for r in widest_paths(edges, seeds, 4).collect()}
    assert got["e"] == 1 and got["c"] == 3 and got["b"] == 5


def test_hits_int_matches_replay(spark):
    from knowledge_graph_spark.operators.graphops import HITS_NORM_SCALE, hits_int

    # directed multigraph, duplicate edge included on purpose
    de = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "b")]
    edges = spark.createDataFrame(de, "source string, target string")

    def replay(rounds):
        nodes = sorted({n for e in de for n in e})
        h = {n: 1 for n in nodes}
        a = {}
        for _ in range(rounds):
            raw_a = defaultdict(int)
            for u, v in de:
                raw_a[v] += h.get(u, 0)
            m = max(raw_a.values())
            a = {n: x // max(1, m // HITS_NORM_SCALE) for n, x in raw_a.items()}
            raw_h = defaultdict(int)
            for u, v in de:
                raw_h[u] += a.get(v, 0)
            m = max(raw_h.values())
            h = {n: x // max(1, m // HITS_NORM_SCALE) for n, x in raw_h.items()}
        return {n: (a.get(n, 0), h.get(n, 0)) for n in nodes}

    for rounds in (1, 3):
        got = {
            r.title: (r.authority, r.hub)
            for r in hits_int(edges, rounds=rounds).collect()
        }
        assert got == replay(rounds)
    # direction signal: a (three outgoing edges) is the top hub but a weak
    # authority — exactly the asymmetry the undirected walk erases.
    got = {r.title: (r.authority, r.hub) for r in hits_int(edges, rounds=3).collect()}
    assert got["a"][1] == max(v[1] for v in got.values())
    assert got["a"][0] == min(v[0] for v in got.values())


def test_null_robustness(spark):
    """NULL text / tool / role / ts and duplicate turn_idx must flow
    through the pipeline and every trace operator without ANSI-mode
    throws — ingest garbage is a fact of life at 10^12 turns."""
    from knowledge_graph_spark.pipeline import PipelineConfig, build_graph

    rows = [
        ("c1", 0, "user", None, "", 100),
        ("c1", 1, "tool", "r", None, 110),
        ("c1", 2, "assistant", "PERSON_1 met CITY_2", "", None),
        ("c2", 0, None, "x", "", 50),
        ("c3", 0, "tool", "r", "search", 60),
        ("c3", 0, "tool", "r", "fetch", 61),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, sec long",
    ).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.timestamp_seconds("sec").alias("ts"),
    )
    stages = build_graph(t, PipelineConfig(chunk_size=16, chunk_overlap=4, tokenizer="ws"))
    assert stages["nodes"].count() == 2 and stages["edges"].count() == 1
    assert tool_transitions(t).count() == 2  # NULL-tool call is excluded
    assert turn_latency(t).count() == 1      # NULL-ts turn yields no wait
