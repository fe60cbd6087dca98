"""Round-3 wave-14 operators: weighted SSSP (Bellman-Ford rounds) and
the 4-cycle census.

SSSP is checked against networkx's dijkstra on random graphs (round
budget ≥ diameter) plus the no-op-past-convergence invariant; the C4
census against hand fixtures and a networkx cycle enumeration.
"""

import networkx as nx

from knowledge_graph_spark.operators.graphops import four_cycle_profile, sssp_int


def _edges(spark, rows):
    return spark.createDataFrame(rows, "source string, target string, weight double")


def _seed(spark, title):
    return spark.createDataFrame([(title,)], "title string")


def _rand_graph(seed: int, n: int, m: int):
    import random

    rng = random.Random(seed)
    rows, seen = [], set()
    while len(rows) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a == b:
            continue
        key = (min(a, b), max(a, b))
        if key in seen:
            continue
        seen.add(key)
        rows.append((f"n{key[0]:03d}", f"n{key[1]:03d}", float(rng.randrange(9) + 1)))
    return rows


def test_sssp_matches_networkx(spark):
    rows = _rand_graph(seed=11, n=25, m=70)
    src = rows[0][0]
    got = {
        r["title"]: r["dist"]
        for r in sssp_int(_edges(spark, rows), _seed(spark, src), rounds=24).collect()
    }
    g = nx.Graph()
    for a, b, w in rows:
        # parallel-arc min matches the operator's groupBy-min adjacency
        if g.has_edge(a, b):
            w = min(w, g[a][b]["weight"])
        g.add_edge(a, b, weight=w)
    want = nx.single_source_dijkstra_path_length(g, src)
    assert got == {k: int(v) for k, v in want.items()}


def test_sssp_extra_rounds_noop(spark):
    rows = _rand_graph(seed=5, n=12, m=25)
    src = rows[0][0]
    e = _edges(spark, rows)
    d1 = {r["title"]: r["dist"] for r in sssp_int(e, _seed(spark, src), rounds=12).collect()}
    d2 = {r["title"]: r["dist"] for r in sssp_int(e, _seed(spark, src), rounds=15).collect()}
    assert d1 == d2


def test_sssp_partial_rounds_sound(spark):
    # every emitted distance is a TRUE path cost — never an underestimate
    rows = _rand_graph(seed=3, n=20, m=40)
    src = rows[0][0]
    got = {
        r["title"]: r["dist"]
        for r in sssp_int(_edges(spark, rows), _seed(spark, src), rounds=2).collect()
    }
    g = nx.Graph()
    for a, b, w in rows:
        if g.has_edge(a, b):
            w = min(w, g[a][b]["weight"])
        g.add_edge(a, b, weight=w)
    true = nx.single_source_dijkstra_path_length(g, src)
    for node, d in got.items():
        assert d >= int(true[node])


def test_four_cycles_square_and_chord(spark):
    # plain square: every node on exactly one C4
    sq = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0), ("a", "d", 1.0)]
    got = {r["title"]: r["four_cycles"] for r in four_cycle_profile(_edges(spark, sq)).collect()}
    assert got == {"a": 1, "b": 1, "c": 1, "d": 1}
    # adding the chord a-c leaves the single quadrilateral count unchanged
    got2 = {
        r["title"]: r["four_cycles"]
        for r in four_cycle_profile(_edges(spark, sq + [("a", "c", 1.0)])).collect()
    }
    assert got2 == {"a": 1, "b": 1, "c": 1, "d": 1}


def test_four_cycles_k4_and_bipartite(spark):
    # K4 has 3 quadrilaterals, each node on all 3
    k4 = [
        ("a", "b", 1.0), ("a", "c", 1.0), ("a", "d", 1.0),
        ("b", "c", 1.0), ("b", "d", 1.0), ("c", "d", 1.0),
    ]
    got = {r["title"]: r["four_cycles"] for r in four_cycle_profile(_edges(spark, k4)).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    # K_{2,3}: C(3,2)=3 cycles; u-side nodes on all 3, w-side on 2 each
    k23 = [(u, w, 1.0) for u in ("u1", "u2") for w in ("w1", "w2", "w3")]
    got = {r["title"]: r["four_cycles"] for r in four_cycle_profile(_edges(spark, k23)).collect()}
    assert got == {"u1": 3, "u2": 3, "w1": 2, "w2": 2, "w3": 2}


def test_four_cycles_triangle_free(spark):
    path = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)]
    got = {r["title"]: r["four_cycles"] for r in four_cycle_profile(_edges(spark, path)).collect()}
    assert got == {"a": 0, "b": 0, "c": 0, "d": 0}
