"""Iterative graph kernels (graphops.py): SCC, MIS, k-truss, Katz,
betweenness, PageRank warm start and early exit, partition agreement.

Each kernel is checked against networkx or a pure-Python replay of the
same integer recurrence over a small hand-built graph.
"""

from collections import defaultdict

import networkx as nx

def test_scc_exact_on_layered_cycles(spark):
    """Three SCCs chained by DAG bridges with labels arranged so each
    outer round resolves exactly one layer — with rounds >= layers the
    partition equals networkx's strongly_connected_components."""
    from knowledge_graph_spark.operators.graphops import scc_fixed_rounds

    edges = [
        ("a", "b"), ("b", "a"),            # SCC {a,b}
        ("c", "a"),                          # bridge into it
        ("d", "e"), ("e", "d"), ("d", "c"),  # SCC {d,e} above singleton c
    ]
    g = nx.DiGraph(edges)
    want = {frozenset(c) for c in nx.strongly_connected_components(g)}
    out = scc_fixed_rounds(
        spark.createDataFrame(edges, "source string, target string"),
        inner_rounds=3,
        outer_rounds=3,
    ).collect()
    assert all(r.resolved_round > 0 for r in out)
    got = {}
    for r in out:
        got.setdefault(r.scc_id, set()).add(r.node)
    assert {frozenset(m) for m in got.values()} == want
    # the id is the lexicographic min member (and a member)
    assert all(sid == min(m) for sid, m in got.items())


def test_scc_sound_on_random_digraph(spark):
    """Pseudo-random digraph (shared hash family, no RNG): with FEW
    rounds some nodes stay unresolved ('' sentinel), but every resolved
    group is a SUBSET of a true SCC — the algorithm never merges two
    components or mislabels a node."""
    from knowledge_graph_spark.functions.hashing import HASH_A, HASH_C, HASH_M31
    from knowledge_graph_spark.operators.graphops import scc_fixed_rounds

    n = 40
    edges = sorted(
        {
            (
                f"n{((HASH_A * (i + 1) + HASH_C) % HASH_M31) % n:02d}",
                f"n{(((HASH_A * (i + 1) + HASH_C) % HASH_M31) // n) % n:02d}",
            )
            for i in range(160)
        }
    )
    g = nx.DiGraph(edges)
    true_sccs = {frozenset(c) for c in nx.strongly_connected_components(g)}
    out = scc_fixed_rounds(
        spark.createDataFrame(edges, "source string, target string"),
        inner_rounds=2,
        outer_rounds=2,
    ).collect()
    assert len(out) == g.number_of_nodes()  # every node exactly once
    groups = {}
    for r in out:
        if r.resolved_round > 0:
            groups.setdefault(r.scc_id, set()).add(r.node)
        else:
            assert r.scc_id == ""  # honest leftover, never a wrong id
    assert groups, "few-round run should still resolve something"
    for sid, members in groups.items():
        # the id is always a member of the same TRUE SCC (it witnessed a
        # round-trip path), though it may itself resolve only in a later
        # round — so assert members ∪ {id} sit inside one true component
        assert any(members | {sid} <= c for c in true_sccs), (sid, members)


def test_luby_mis_properties(spark):
    """Luby MIS soundness on a pseudo-random graph: the 'in_mis' set is
    INDEPENDENT (no internal edge), every 'dominated' node has an
    'in_mis' neighbour, statuses partition the node universe — and on a
    chain the MIS keeps both endpoints where cluster-canonical keeps one."""
    from pyspark.sql import functions as F

    from knowledge_graph_spark.functions.hashing import HASH_A, HASH_C, HASH_M31
    from knowledge_graph_spark.operators.graphops import luby_mis

    n = 60
    edges = sorted(
        {
            tuple(
                sorted(
                    (
                        ((HASH_A * (i + 1) + HASH_C) % HASH_M31) % n,
                        (((HASH_A * (i + 1) + HASH_C) % HASH_M31) // n) % n,
                    )
                )
            )
            for i in range(150)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    nodes_df = spark.range(n).select(F.col("id").alias("node"))
    edges_df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = luby_mis(nodes_df, edges_df, rounds=6).collect()
    status = {r.node: r.status for r in out}
    assert len(status) == n  # partition: every node exactly once
    mis = {v for v, s in status.items() if s == "in_mis"}
    dom = {v for v, s in status.items() if s == "dominated"}
    assert not any(a in mis and b in mis for a, b in edges)  # independent
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v in dom:  # every dominated node is covered by a kept neighbour
        assert adj.get(v, set()) & mis, v
    # with enough rounds nothing is left undecided, so the set is MAXIMAL
    # (an undominated non-member could still be added)
    assert not [v for v, s in status.items() if s == "undecided"]
    # isolated nodes are always kept
    isolated = set(range(n)) - set(adj)
    assert isolated <= mis

    # chain a-b-c: MIS keeps {a, c}; one-per-cluster keeps only the min
    chain_nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    chain_edges = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    ch = {r.node: r.status for r in luby_mis(chain_nodes, chain_edges, rounds=4).collect()}
    assert sum(s == "in_mis" for s in ch.values()) == 2
    assert ch[1] == "dominated" or (ch[0] == "dominated" and ch[2] == "dominated")


def test_k_truss_matches_networkx(spark):
    """k-truss on a clique + triangle + pendant graph equals networkx's
    maximal k-truss once rounds reach the fixpoint; support equals the
    within-truss triangle count per edge."""
    from knowledge_graph_spark.operators.graphops import k_truss

    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"),                          # 4-clique abcd
        ("d", "e"), ("d", "f"), ("e", "f"),  # triangle def hanging off d
        ("f", "g"),                          # pendant edge (never in a truss)
    ]
    df = spark.createDataFrame(edges, "source string, target string")
    g = nx.Graph(edges)
    for k in (3, 4):
        got = {(r.source, r.target): r.support
               for r in k_truss(df, k=k, rounds=4).collect()}
        want = {tuple(sorted(e)) for e in nx.k_truss(g, k).edges()}
        assert set(got) == want
        # support is the within-truss common-neighbor count
        truss = nx.k_truss(g, k)
        for (u, v), sup in got.items():
            assert sup == len(set(truss[u]) & set(truss[v]))
            assert sup >= k - 2


def test_k_truss_peel_cascades(spark):
    """A chain of triangles sharing single vertices collapses entirely at
    k=4 (no edge ever has 2 witnesses) but survives whole at k=3 —
    and extra rounds past the fixpoint are no-ops (monotone peel)."""
    from knowledge_graph_spark.operators.graphops import k_truss

    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("c", "d"), ("d", "e"), ("c", "e")]
    df = spark.createDataFrame(edges, "source string, target string")
    assert k_truss(df, k=4, rounds=2).count() == 0
    r2 = sorted(map(tuple, k_truss(df, k=3, rounds=2).collect()))
    r5 = sorted(map(tuple, k_truss(df, k=3, rounds=5).collect()))
    assert r2 == r5 and len(r2) == 6


def test_k_truss_canonicalizes_input(spark):
    """Edges arriving in arbitrary orientation / with duplicates give the
    same truss as their canonical form: a triangle stored as a directed
    3-cycle (a→b, b→c, c→a) must still count as a triangle, and a
    both-direction duplicate must not inflate supports or duplicate
    output rows (regression: the ordered-wedge join requires a strict
    a<b distinct edge list)."""
    from knowledge_graph_spark.operators.graphops import k_truss

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a"), ("a", "a")],
        "source string, target string",
    )
    got = sorted(
        (r.source, r.target, r.support) for r in k_truss(cyc, k=3, rounds=2).collect()
    )
    assert got == [("a", "b", 1), ("a", "c", 1), ("b", "c", 1)]


def test_katz_vs_local_replay(spark):
    """katz_int equals a pure-Python replay of the integer recurrence
    x_{t+1}(v) = scale + sum_{u->v} (x_t(u)*num)//den on the symmetrized
    edge list, and a hub out-scores a leaf (attenuated path counting)."""
    from knowledge_graph_spark.operators.graphops import (
        KATZ_ATT_DEN,
        KATZ_ATT_NUM,
        KATZ_SCALE,
        katz_int,
    )

    edges = [("h", "a"), ("h", "b"), ("h", "c"), ("a", "b"), ("c", "d")]
    df = spark.createDataFrame(edges, "source string, target string")
    got = {r.title: r.katz_scaled for r in katz_int(df, iterations=5).collect()}

    sym = edges + [(v, u) for u, v in edges]
    nodes = {u for e in sym for u in e}
    x = {n: 0 for n in nodes}
    for _ in range(5):
        nxt = {n: KATZ_SCALE for n in nodes}
        for u, v in sym:
            nxt[v] += (x[u] * KATZ_ATT_NUM) // KATZ_ATT_DEN
        x = nxt
    assert got == x
    assert got["h"] > got["d"]  # degree-4 hub beats the pendant leaf


def test_katz_directed_asymmetric(spark):
    """symmetric=False follows edge direction only: in a chain a->b->c
    the sink accumulates the most attenuated-path mass, the source gets
    exactly the base score."""
    from knowledge_graph_spark.operators.graphops import KATZ_SCALE, katz_int

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "source string, target string"
    )
    got = {
        r.title: r.katz_scaled
        for r in katz_int(df, iterations=4, symmetric=False).collect()
    }
    assert got["a"] == KATZ_SCALE
    assert got["c"] > got["b"] > got["a"]


def _brandes_local(edges, sources, rounds, scale):
    """Pure-Python replay of the truncated integer Brandes pass:
    level-synchronous BFS sigma from each source, backward delta with
    (sigma_u * (scale + delta_w)) // sigma_w, source level excluded."""
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    bc = defaultdict(int)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1}
        frontier = [s]
        for r in range(1, rounds + 1):
            nxt = defaultdict(int)
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        nxt[v] += sigma[u]
            for v, sg in nxt.items():
                dist[v] = r
                sigma[v] = sg
            frontier = list(nxt)
        delta = {v: 0 for v in dist}
        for lvl in range(rounds, 0, -1):
            for u in dist:
                if dist[u] != lvl - 1:
                    continue
                d = 0
                for w in adj[u]:
                    if dist.get(w) == lvl:
                        d += (sigma[u] * (scale + delta[w])) // sigma[w]
                delta[u] = d
            for v in dist:
                if dist[v] == lvl - 1 and lvl - 1 >= 1:
                    pass  # accumulated below once, after all levels settle
        for v in dist:
            if v != s:
                bc[v] += delta[v]
    return dict(bc)


def test_betweenness_vs_local_replay(spark):
    """betweenness_sampled equals the pure-Python truncated-Brandes
    replay (all nodes as sources) on an asymmetric lollipop graph."""
    from knowledge_graph_spark.operators.graphops import (
        BW_SCALE,
        betweenness_sampled,
    )

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"),  # triangle
        ("c", "d"), ("d", "e"), ("e", "f"),  # tail
    ]
    df = spark.createDataFrame(edges, "source string, target string")
    got = {
        r.title: r.betweenness_scaled
        for r in betweenness_sampled(df, k_sources=6, rounds=4).collect()
    }
    nodes = sorted({u for e in edges for u in e})
    # replay must pick the same sources: degree DESC, title ASC, top 6 = all
    want = _brandes_local(edges, nodes, rounds=4, scale=BW_SCALE)
    assert got == {n: want.get(n, 0) for n in nodes}
    # the bridge c carries the most brokerage; leaves a and f carry none
    assert got["c"] == max(got.values())
    assert got["a"] == 0 and got["f"] == 0


def test_betweenness_star_center(spark):
    """Star graph: every shortest path between leaves crosses the hub —
    with all sources, hub betweenness is (k-1)(k-2)*scale (directed
    pairs), leaves get 0."""
    from knowledge_graph_spark.operators.graphops import (
        BW_SCALE,
        betweenness_sampled,
    )

    k = 5
    edges = [("hub", f"l{i}") for i in range(k)]
    df = spark.createDataFrame(edges, "source string, target string")
    got = {
        r.title: r.betweenness_scaled
        for r in betweenness_sampled(df, k_sources=k + 1, rounds=3).collect()
    }
    assert got["hub"] == k * (k - 1) * BW_SCALE
    assert all(got[f"l{i}"] == 0 for i in range(k))


def test_betweenness_truncation_monotone(spark):
    """Truncating rounds drops long-path mass only: on a 6-path, rounds=2
    credits each node only with paths <= 2 hops, and growing rounds never
    reduces any node's score."""
    from knowledge_graph_spark.operators.graphops import betweenness_sampled

    edges = [(f"n{i}", f"n{i+1}") for i in range(6)]
    df = spark.createDataFrame(edges, "source string, target string")
    by_rounds = {}
    for rounds in (2, 4, 6):
        by_rounds[rounds] = {
            r.title: r.betweenness_scaled
            for r in betweenness_sampled(df, k_sources=7, rounds=rounds).collect()
        }
    for n in by_rounds[2]:
        assert by_rounds[2][n] <= by_rounds[4][n] <= by_rounds[6][n]
    assert by_rounds[6]["n3"] == max(by_rounds[6].values())


def _rank_map(df):
    return {r.title: r.rank_scaled for r in df.collect()}


def test_pagerank_warm_start_composes_rounds(spark):
    """The PR iteration is memoryless: k warm rounds seeded from a prior
    R-round result on the same graph are bit-identical to R+k cold
    rounds — the exactness contract behind the pr_warm maintenance
    gate."""
    from knowledge_graph_spark.operators.graphops import pagerank_int

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
         ("e", "f"), ("f", "d"), ("b", "e")],
        "source string, target string",
    )
    cold5 = _rank_map(pagerank_int(edges, iterations=5))
    prior = pagerank_int(edges, iterations=3)
    warm = _rank_map(pagerank_int(edges, iterations=2, init_ranks=prior))
    assert warm == cold5


def test_pagerank_warm_start_seeds_missing_nodes_cold(spark):
    """Nodes absent from init_ranks start at the cold scale//n of the
    CURRENT graph (new entities after a CDC insert); present nodes keep
    their prior mass.  iterations=0 exposes the seeding directly."""
    from knowledge_graph_spark.operators.graphops import PR_SCALE, pagerank_int

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "new1"), ("new1", "new2")],
        "source string, target string",
    )
    prior = spark.createDataFrame(
        [("a", 111), ("b", 222), ("c", 333)], "title string, rank_scaled long"
    )
    seeded = _rank_map(pagerank_int(edges, iterations=0, init_ranks=prior))
    cold = PR_SCALE // 5
    assert seeded == {"a": 111, "b": 222, "c": 333, "new1": cold, "new2": cold}


def test_pagerank_warm_start_beats_cold_on_skewed_delta(spark):
    """The maintenance value proposition: on a skewed graph (star — the
    converged ranks are FAR from uniform) that grows by a small delta,
    3 warm rounds from the old graph's converged ranks land closer (L1)
    to the new graph's converged ranks than 3 cold rounds from uniform.
    This is the per-batch contract behind the CDC salience fold
    (streaming/retract_stream._fold_salience)."""
    from knowledge_graph_spark.operators.graphops import pagerank_int

    old = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(50)], "source string, target string"
    )
    new = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(51)], "source string, target string"
    )
    prior = pagerank_int(old, iterations=10)
    warm = _rank_map(pagerank_int(new, iterations=3, init_ranks=prior))
    cold = _rank_map(pagerank_int(new, iterations=3))
    conv = _rank_map(pagerank_int(new, iterations=30))
    l1_warm = sum(abs(warm[t] - conv[t]) for t in conv)
    l1_cold = sum(abs(cold[t] - conv[t]) for t in conv)
    assert l1_warm < l1_cold


def test_partition_agreement_hand_computed(spark):
    """A={ab c | de}, B={ab | cde}: contingency (2,1,2) → TP=2,
    pairs_a=4, pairs_b=4, TN=4 of C(5,2)=10 → Rand .6, P=R=F1=.5."""
    from knowledge_graph_spark.operators.graphops import partition_agreement

    a = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x"), ("d", "y"), ("e", "y")],
        "title string, community string",
    )
    b = spark.createDataFrame(
        [("a", "p"), ("b", "p"), ("c", "q"), ("d", "q"), ("e", "q")],
        "title string, component string",
    )
    row = partition_agreement(a, b).collect()[0].asDict()
    assert row == {
        "n_nodes": 5, "pairs_total": 10, "pairs_both": 2,
        "pairs_a": 4, "pairs_b": 4, "rand_micro": 600000,
        "precision_micro": 500000, "recall_micro": 500000,
        "f1_micro": 500000,
    }


def test_partition_agreement_identical_partitions(spark):
    """Identical partitions (up to label renaming) score perfect 1.0
    everywhere; nodes missing from one side are dropped (no pair
    semantics without both labels)."""
    from knowledge_graph_spark.operators.graphops import partition_agreement

    a = spark.createDataFrame(
        [("a", "1"), ("b", "1"), ("c", "2"), ("zzz", "9")],
        "title string, community string",
    )
    b = spark.createDataFrame(
        [("a", "L"), ("b", "L"), ("c", "R")], "title string, component string"
    )
    row = partition_agreement(a, b).collect()[0].asDict()
    assert row["n_nodes"] == 3
    assert row["rand_micro"] == row["precision_micro"] == 1000000
    assert row["recall_micro"] == row["f1_micro"] == 1000000


def test_scc_early_exit_is_output_identical_and_reports_rounds(spark):
    """Round-4 adaptivity contract: on a graph whose min-label fixpoint
    is shallower than the budget, the inner loop exits early
    (rounds_used < budget) and the output is bit-identical to a larger
    budget's — extra rounds are provable no-ops."""
    from knowledge_graph_spark.operators.graphops import scc_fixed_rounds

    # two disjoint 2-cycles + a singleton: fixpoint after 2 rounds
    edges = [("a", "b"), ("b", "a"), ("c", "d"), ("d", "c"), ("e", "a")]
    df = spark.createDataFrame(edges, "source string, target string")
    ru_small, ru_big = [], []
    small = {
        (r.node, r.scc_id, r.resolved_round)
        for r in scc_fixed_rounds(
            df, inner_rounds=8, outer_rounds=2, rounds_used=ru_small
        ).collect()
    }
    big = {
        (r.node, r.scc_id, r.resolved_round)
        for r in scc_fixed_rounds(
            df, inner_rounds=12, outer_rounds=2, rounds_used=ru_big
        ).collect()
    }
    assert small == big
    assert all(u < 8 for u in ru_small), ru_small  # early exit fired
    # outer round 2 runs on the peeled leftovers (e resolves round 2)
    assert len(ru_small) == 2


def test_scc_outer_early_exit_when_fully_resolved(spark):
    """When outer round 1 resolves every node, the second outer round is
    skipped entirely (rounds_used has one entry) and no leftover rows
    are emitted."""
    from knowledge_graph_spark.operators.graphops import scc_fixed_rounds

    edges = [("a", "b"), ("b", "a")]
    ru = []
    out = scc_fixed_rounds(
        spark.createDataFrame(edges, "source string, target string"),
        inner_rounds=4,
        outer_rounds=3,
        rounds_used=ru,
    ).collect()
    assert len(ru) == 1
    assert {(r.node, r.scc_id, r.resolved_round) for r in out} == {
        ("a", "a", 1),
        ("b", "a", 1),
    }


def test_msf_long_chain_exact_with_pointer_early_exit(spark):
    """A 64-node weighted path: Borůvka must select every chain edge
    (the MSF of a tree is the tree) — the star contraction's pointer
    chains are long here, exercising the doubling early exit without
    changing the result."""
    from knowledge_graph_spark.operators.graphops import min_spanning_forest

    n = 64
    rows = [
        (f"v{i:02d}", f"v{i + 1:02d}", float(((i * 7) % 13) + 1))
        for i in range(n - 1)
    ]
    df = spark.createDataFrame(rows, "source string, target string, weight double")
    got = min_spanning_forest(df, rounds=7).collect()
    assert len(got) == n - 1
    assert {(r.source, r.target, r.weight) for r in got} == set(rows)


def test_pagerank_early_exit_output_identical(spark):
    """early_exit=True is bit-identical to the fixed unroll and stops at
    the integer fixpoint: on a symmetric 2-cycle the ranks converge in
    one round, so a 10-round budget and a 3-round budget agree."""
    from knowledge_graph_spark.operators.graphops import pagerank_int

    df = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "source string, target string"
    )
    fixed = sorted(map(tuple, pagerank_int(df, iterations=10).collect()))
    adaptive = sorted(
        map(tuple, pagerank_int(df, iterations=10, early_exit=True).collect())
    )
    assert fixed == adaptive
    # and against a smaller budget past the fixpoint
    small = sorted(map(tuple, pagerank_int(df, iterations=3).collect()))
    assert small == adaptive


def test_pagerank_early_exit_sees_null_titled_nodes(spark):
    """Round-4 ADVICE low: the fixpoint probe joins old/new ranks with
    eqNullSafe, so a NULL-titled node (edges with null endpoints) stays
    visible to the convergence check and early_exit remains
    bit-identical to the fixed unroll on such graphs."""
    from knowledge_graph_spark.operators.graphops import pagerank_int

    rows = [("a", None), (None, "b"), ("a", "c"), ("c", "b"), ("b", "a")]
    df = spark.createDataFrame(rows, "source string, target string")

    def key(t):
        return ("" if t[0] is None else "\x01" + t[0], t[1])

    for iters in (3, 10):
        fixed = sorted(map(tuple, pagerank_int(df, iterations=iters).collect()), key=key)
        adaptive = sorted(
            map(tuple, pagerank_int(df, iterations=iters, early_exit=True).collect()),
            key=key,
        )
        assert fixed == adaptive, iters
