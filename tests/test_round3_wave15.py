"""Round-3 wave-15 operators: double-sweep diameter lower bound and 1-WL
color refinement.

WL colors are checked value-for-value against a pure-python mirror of the
shared polynomial hash (the strongest cross-engine exactness proof short
of the DuckDB gate); the rest against hand fixtures.
"""

from knowledge_graph_spark.functions.hashing import poly_hash
from knowledge_graph_spark.operators.graphops import (
    double_sweep_diameter,
    wl_refinement,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "source string, target string")


# --- double sweep ----------------------------------------------------------


def test_double_sweep_path_graph(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    row = double_sweep_diameter(e, hops=4).collect()[0]
    # top degree ties (b,c,d all 2) break title-asc -> b; farthest from b
    # is e (hop 3); sweep 2 from e reaches a at hop 4 = the true diameter
    assert row.seed_a == "b" and row.ecc_a_lb == 3
    assert row.seed_b == "e" and row.diameter_lb == 4
    assert row.n_reached == 5


def test_double_sweep_bounded_hops_sound(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    row = double_sweep_diameter(e, hops=2).collect()[0]
    # truncated sweeps still report TRUE distances (lower bound holds):
    # sweep 1 from b reaches only d (hop 2); sweep 2 from d reaches 4 nodes
    assert row.seed_b == "d"
    assert row.diameter_lb == 2 and row.n_reached == 4


# --- WL refinement ---------------------------------------------------------


def _wl_mirror(types: dict, edges: list, rounds: int) -> dict:
    adj = {t: set() for t in types}
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    color = {t: poly_hash(ty) for t, ty in types.items()}
    for _ in range(rounds):
        color = {
            t: poly_hash(
                str(color[t]) + "|" + ",".join(str(c) for c in sorted(color[u] for u in adj[t]))
            )
            for t in types
        }
    return color


def test_wl_colors_match_python_mirror(spark):
    types = {"a": "PERSON", "b": "PERSON", "c": "GEO", "d": "PERSON", "e": "EVENT"}
    edge_rows = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "d")]
    nodes = spark.createDataFrame(list(types.items()), "title string, type string")
    got = {
        r["title"]: r["wl_color"]
        for r in wl_refinement(nodes, _edges(spark, edge_rows), rounds=3).collect()
    }
    assert got == _wl_mirror(types, edge_rows, rounds=3)


def test_wl_distinguishes_path_ends_from_center(spark):
    nodes = spark.createDataFrame(
        [("a", "T"), ("b", "T"), ("c", "T")], "title string, type string"
    )
    rows = wl_refinement(nodes, _edges(spark, [("a", "b"), ("b", "c")]), rounds=2).collect()
    by_title = {r["title"]: r for r in rows}
    assert by_title["a"].wl_color == by_title["c"].wl_color
    assert by_title["a"].wl_color != by_title["b"].wl_color
    assert by_title["a"].class_size == 2 and by_title["b"].class_size == 1


def test_wl_isolated_node_keeps_refining(spark):
    nodes = spark.createDataFrame([("x", "T")], "title string, type string")
    empty = spark.createDataFrame([], "source string, target string")
    got = wl_refinement(nodes, empty, rounds=2).collect()[0]
    c = poly_hash("T")
    for _ in range(2):
        c = poly_hash(str(c) + "|")
    assert got.wl_color == c and got.class_size == 1


# --- lateness --------------------------------------------------------------


# --- distinct-n diversity ---------------------------------------------------


# --- tf-idf cosine ----------------------------------------------------------
