"""K5 replacement: deterministic hash-walk graph embeddings."""

import math

import pytest

from knowledge_graph_spark.operators.graph_embedding import (
    as_vectors,
    indexed_adjacency,
    node2vec_embeddings,
    walks,
)


@pytest.fixture(scope="module")
def graph(spark):
    nodes = spark.createDataFrame(
        [("A",), ("B",), ("C",), ("D",), ("E",), ("Z",)], "title string"
    )
    # path A-B-C-D-E plus chord A-C; Z isolated
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("D", "E"), ("A", "C")],
        "source string, target string",
    )
    return nodes, edges


def test_walks_follow_adjacency_and_are_deterministic(spark, graph):
    nodes, edges = graph
    adj = {
        (r.node, r.neighbor) for r in indexed_adjacency(edges).collect()
    }
    w1 = sorted(map(tuple, walks(nodes, edges, walk_length=5, num_walks=2).collect()))
    w2 = sorted(map(tuple, walks(nodes, edges, walk_length=5, num_walks=2).collect()))
    assert w1 == w2  # hash-driven → identical across runs
    by_walk = {}
    for title, wid, step, node in w1:
        by_walk.setdefault((title, wid), {})[step] = node
    for (title, wid), steps in by_walk.items():
        assert steps[0] == title
        for s in range(1, max(steps) + 1):
            assert (steps[s - 1], steps[s]) in adj  # every hop is an edge
    # isolated node: walk stops at step 0
    assert max(s for (t, _), st in by_walk.items() if t == "Z" for s in st) == 0


def test_embeddings_normalized_and_neighbors_close(spark, graph):
    nodes, edges = graph
    emb = node2vec_embeddings(nodes, edges, dim=8, walk_length=6, num_walks=3)
    vecs = {r.title: r.embedding for r in as_vectors(emb).collect()}
    assert "Z" not in vecs  # no co-occurrence → no embedding row
    for v in vecs.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-3

    # deterministic: identical vectors across invocations
    vecs2 = {
        r.title: r.embedding
        for r in as_vectors(
            node2vec_embeddings(nodes, edges, dim=8, walk_length=6, num_walks=3)
        ).collect()
    }
    assert vecs == vecs2
    # support sanity: a node's mass lands only on hash buckets of nodes it
    # actually co-occurred with (non-negative, ≤ dim nonzeros)
    for v in vecs.values():
        assert all(x >= 0 for x in v) and 0 < sum(1 for x in v if x > 0) <= 8
    # geometry claims (neighbors-closer-than-strangers) are statistical
    # and flaky at this graph size/dim — covered instead by the gate's
    # value-hash check against the independent SQL re-derivation
