"""Round-3 wave-12 graph kernels: Borůvka minimum spanning forest,
Bahmani densest-subgraph peeling, kNN sparsification (graphops.py).

MSF is checked against networkx's MST on random graphs with distinct
weights (unique MST) plus forest/spanning invariants under ties;
densest-subgraph against a planted-clique fixture and a pure-python
mirror of the peel; knn_graph against hand fixtures and the
|E| ≤ k·|V| bound.
"""

import networkx as nx
from pyspark.sql import functions as F

from knowledge_graph_spark.operators.graphops import (
    densest_subgraph,
    knn_graph,
    min_spanning_forest,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "source string, target string, weight double")


def _rand_graph(seed: int, n: int, m: int, distinct_w: bool):
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
        w = float(len(rows) + 1) if distinct_w else float(rng.randrange(3) + 1)
        rows.append((f"n{key[0]:03d}", f"n{key[1]:03d}", w))
    rng.shuffle(rows)
    return rows


def test_msf_matches_networkx_distinct_weights(spark):
    rows = _rand_graph(seed=7, n=30, m=60, distinct_w=True)
    got = min_spanning_forest(_edges(spark, rows), rounds=6).collect()
    g = nx.Graph()
    for a, b, w in rows:
        g.add_edge(a, b, weight=w)
    want = {
        (min(a, b), max(a, b)) for a, b in nx.minimum_spanning_edges(g, data=False)
    }
    assert {(r.source, r.target) for r in got} == want
    assert sum(r.weight for r in got) == sum(
        g[a][b]["weight"] for a, b in want
    )


def test_msf_forest_invariants_under_ties(spark):
    rows = _rand_graph(seed=11, n=25, m=70, distinct_w=False)
    got = min_spanning_forest(_edges(spark, rows), rounds=6).collect()
    g = nx.Graph()
    for a, b, w in rows:
        g.add_edge(a, b, weight=w)
    f = nx.Graph()
    for r in got:
        f.add_edge(r.source, r.target, weight=r.weight)
    # acyclic + spanning: |F| = |V| - #components of the input graph
    assert nx.is_forest(f)
    assert len(got) == g.number_of_nodes() - nx.number_connected_components(g)
    # same total weight as ANY true MST (tie-broken MSTs are weight-equal)
    want = sum(
        g[a][b]["weight"] for a, b in nx.minimum_spanning_edges(g, data=False)
    )
    assert sum(r.weight for r in got) == want
    # under ties the output follows the (weight, "a|b") total order, so it
    # is the unique MST of the perturbed graph — re-derive with Kruskal
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want2 = set()
    canon = {(min(a, b), max(a, b)): w for a, b, w in rows}
    for (a, b), w in sorted(canon.items(), key=lambda kv: (kv[1], f"{kv[0][0]}|{kv[0][1]}")):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            want2.add((a, b))
    assert {(r.source, r.target) for r in got} == want2


def test_msf_fixed_rounds_subset(spark):
    # one round on a path: every component picks an MSF edge, never a wrong one
    rows = [(f"p{i}", f"p{i+1}", float(i + 1)) for i in range(8)]
    one = min_spanning_forest(_edges(spark, rows), rounds=1).collect()
    full = {(r.source, r.target) for r in
            min_spanning_forest(_edges(spark, rows), rounds=5).collect()}
    assert {(r.source, r.target) for r in one} <= full
    assert all(r.round == 1 for r in one)


def _peel_mirror(rows, eps_num, eps_den, rounds):
    """Pure-python mirror of the peel for argmax/round parity."""
    edges = {(min(a, b), max(a, b)) for a, b, _ in rows if a != b}
    nodes = {x for e in edges for x in e}
    peel, stats = {}, []
    for r in range(1, rounds + 1):
        stats.append((r - 1, len(nodes), len(edges)))
        if not nodes:
            break
        deg = {n: 0 for n in nodes}
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        drop = {
            n
            for n in nodes
            if deg[n] * len(nodes) * eps_den <= 2 * len(edges) * eps_num
        }
        for n in drop:
            peel[n] = r
        nodes -= drop
        edges = {e for e in edges if e[0] in nodes and e[1] in nodes}
    best_d, best_r = -1.0, 0
    for rp, nv, ne in stats:
        if nv == 0:
            continue
        d = (2.0 * ne) / nv
        if d > best_d:
            best_d, best_r = d, rp
    return peel, best_r


def test_densest_finds_planted_clique(spark):
    rows = []
    clique = [f"c{i}" for i in range(6)]
    for i in range(6):
        for j in range(i + 1, 6):
            rows.append((clique[i], clique[j], 1.0))
    # a long path of pendant nodes hanging off the clique
    prev = "c0"
    for i in range(12):
        rows.append((prev, f"t{i}", 1.0))
        prev = f"t{i}"
    out = {r.node: r for r in densest_subgraph(_edges(spark, rows)).collect()}
    best = {n for n, r in out.items() if r.in_best}
    # the tail peels in round 1, the clique in round 2 -> best prefix == clique
    assert best == set(clique)
    peel, best_r = _peel_mirror(rows, 11, 10, 8)
    for n, r in out.items():
        assert r.peel_round == peel.get(n, 0), n
        assert r.in_best == (r.peel_round == 0 or r.peel_round > best_r), n


def test_densest_peel_mirror_random(spark):
    rows = _rand_graph(seed=3, n=40, m=120, distinct_w=False)
    out = {r.node: r for r in densest_subgraph(_edges(spark, rows)).collect()}
    peel, best_r = _peel_mirror(rows, 11, 10, 8)
    assert {n: r.peel_round for n, r in out.items()} == {
        n: peel.get(n, 0) for n in out
    }
    for r in out.values():
        assert r.in_best == (r.peel_round == 0 or r.peel_round > best_r)


def test_knn_graph_fixture(spark):
    # star: hub h with 5 spokes of decreasing weight; k=2
    rows = [("h", f"s{i}", float(10 - i)) for i in range(5)]
    got = {(r.source, r.target): r for r in knn_graph(_edges(spark, rows), k=2).collect()}
    # every spoke keeps its only edge; the hub keeps its top-2 -> kept_by 2
    assert set(got) == {(min("h", f"s{i}"), max("h", f"s{i}")) for i in range(5)}
    assert got[("h", "s0")].kept_by == 2 and got[("h", "s1")].kept_by == 2
    assert all(
        v.kept_by == 1 for k, v in got.items() if k not in {("h", "s0"), ("h", "s1")}
    )


def test_knn_graph_bound_and_connectivity(spark):
    rows = _rand_graph(seed=5, n=30, m=200, distinct_w=False)
    k = 3
    got = knn_graph(_edges(spark, rows), k=k).collect()
    nodes = {x for a, b, _ in rows for x in (a, b)}
    assert len(got) <= k * len(nodes)
    # every node keeps >= min(k, deg) incident edges
    import collections

    deg_in = collections.Counter()
    deg_kept = collections.Counter()
    for a, b, _ in rows:
        key = (min(a, b), max(a, b))
        deg_in[key[0]] += 0  # touch
    seen = set()
    for a, b, _ in rows:
        key = (min(a, b), max(a, b))
        if key in seen:
            continue
        seen.add(key)
        deg_in[key[0]] += 1
        deg_in[key[1]] += 1
    for r in got:
        deg_kept[r.source] += 1
        deg_kept[r.target] += 1
    for n in nodes:
        assert deg_kept[n] >= min(k, deg_in[n]), n


def test_lp_ranking_bounds_and_mrr(spark):
    from knowledge_graph_spark.operators.graphops import (
        lp_ranking_audit,
        negative_samples,
    )

    rows = _rand_graph(seed=9, n=20, m=40, distinct_w=False)
    e = _edges(spark, rows).select("source", "target")
    nodes = (
        e.select(F.col("source").alias("title"))
        .unionByName(e.select(F.col("target").alias("title")))
        .distinct()
    )
    rk = lp_ranking_audit(nodes, e, k=4).collect()
    negs = negative_samples(nodes, e, k=4).filter("is_clean").collect()
    n_clean = {}
    for r in negs:
        key = (r.source, r.target)
        n_clean[key] = n_clean.get(key, 0) + 1
    canon = {(min(a, b), max(a, b)) for a, b, _ in rows}
    assert len(rk) == len(canon)
    for r in rk:
        assert 1 <= r.rank <= r.n_cand, r
        assert r.n_cand == 1 + n_clean.get((r.source, r.target), 0), r


def test_lp_ranking_prefers_true_edge_in_triangle_lattice(spark):
    from knowledge_graph_spark.operators.graphops import lp_ranking_audit

    # two triangles sharing a node: true neighbors share a common
    # neighbor, distant corruptions share none -> the positive candidate
    # scores strictly above any zero-common-neighbor corruption
    rows = [
        ("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0),
        ("c", "d", 1.0), ("d", "e", 1.0), ("c", "e", 1.0),
    ]
    e = _edges(spark, rows).select("source", "target")
    nodes = spark.createDataFrame([(x,) for x in "abcdexyz"], "title string")
    out = {(r.source, r.target): r for r in lp_ranking_audit(nodes, e, k=3).collect()}
    # python mirror: AA integer score with bitlen weights over the same
    # sampled corruptions -> exact expected ranks
    from knowledge_graph_spark.operators.graphops import negative_samples

    adj = {}
    for a, b, _ in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def aa(u, v):
        if u == v:
            return 0
        return sum(
            1000000 // max(len(adj[z]).bit_length() - 1, 1)
            for z in adj.get(u, set()) & adj.get(v, set())
        )

    negs = negative_samples(nodes, e, k=3).filter("is_clean").collect()
    by_edge = {}
    for r in negs:
        by_edge.setdefault((r.source, r.target), []).append(r.neg_target)
    for (s, t), r in out.items():
        cands = by_edge.get((s, t), [])
        pos = aa(s, t)
        want_rank = 1 + sum(
            1 for c in cands if aa(s, c) > pos or (aa(s, c) == pos and c < t)
        )
        assert r.rank == want_rank, (s, t)
        assert r.n_cand == 1 + len(cands), (s, t)
        assert pos > 0  # every true edge sits in a triangle
