"""Connected components / LCC / LPA — determinism + correctness vs networkx."""

import networkx as nx
import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.operators.community import (
    apply_clustering,
    connected_components,
    hierarchical_lpa,
    label_propagation,
    largest_component,
)

EDGES = [
    ("a", "b", 1.0),
    ("b", "c", 1.0),
    ("d", "e", 1.0),
    ("f", "g", 2.0),
    ("g", "h", 2.0),
    ("h", "f", 2.0),
]
NODES = ["a", "b", "c", "d", "e", "f", "g", "h", "iso"]


@pytest.fixture(scope="module")
def graph(spark):
    nodes = spark.createDataFrame([(n,) for n in NODES], "title string")
    edges = spark.createDataFrame(EDGES, "source string, target string, weight double")
    return nodes, edges


def test_cc_matches_networkx(spark, graph):
    nodes, edges = graph
    got = {
        r.title: r.component for r in connected_components(nodes, edges).collect()
    }
    g = nx.Graph()
    g.add_nodes_from(NODES)
    g.add_edges_from([(s, t) for s, t, _ in EDGES])
    want = {n: min(c) for c in nx.connected_components(g) for n in c}
    assert got == want


def test_lcc(spark, graph):
    nodes, edges = graph
    comp = connected_components(nodes, edges)
    lcc = {r.title for r in largest_component(comp).collect()}
    assert lcc == {"a", "b", "c"} or lcc == {"f", "g", "h"}
    # deterministic tie-break: both have size 3 → min component id wins ("a")
    assert lcc == {"a", "b", "c"}


def test_lpa_separates_components(spark, graph):
    nodes, edges = graph
    lab = {r.title: r.community for r in label_propagation(nodes, edges).collect()}
    # different components can never share a label
    assert lab["a"] != lab["d"] != lab["f"]
    # triangle members converge to one label
    assert lab["f"] == lab["g"] == lab["h"]
    # isolated node keeps its own label
    assert lab["iso"] == "iso"


def test_lpa_deterministic_under_shuffle(spark, graph):
    nodes, edges = graph
    a = sorted(map(tuple, label_propagation(nodes, edges).collect()))
    shuffled_edges = edges.orderBy(F.xxhash64("target")).repartition(5)
    b = sorted(map(tuple, label_propagation(nodes, shuffled_edges).collect()))
    assert a == b


def test_hierarchical_lpa_splits_oversized(spark):
    # two 4-cliques joined by one weak bridge → LPA level 0 may merge them;
    # with max_cluster_size=4 an 8-node community must split at level 1
    edges = []
    for base in (0, 4):
        for i in range(4):
            for j in range(i + 1, 4):
                edges.append((f"n{base + i}", f"n{base + j}", 5.0))
    edges.append(("n0", "n4", 0.1))
    nodes = spark.createDataFrame([(f"n{i}",) for i in range(8)], "title string")
    e = spark.createDataFrame(edges, "source string, target string, weight double")
    res = hierarchical_lpa(nodes, e, max_cluster_size=4, max_levels=3)
    final_level = res.groupBy().agg(F.max("level")).collect()[0][0]
    final = res.filter(F.col("level") == final_level)
    sizes = [r[1] for r in final.groupBy("community").count().collect()]
    assert all(s <= 4 for s in sizes)


def test_apply_clustering(spark, graph):
    nodes, edges = graph
    comm = label_propagation(nodes, edges).withColumn("level", F.lit(0))
    stamped = apply_clustering(nodes, comm, level=0)
    rows = {r.title: (r.community, r.level) for r in stamped.collect()}
    assert rows["a"][1] == 0 and rows["a"][0] is not None


def test_distributed_cc_pointer_doubling_on_chain(spark):
    """A 120-node chain has diameter 119; min-label alone would need 119
    rounds (> max_iter) — the pointer-doubling shortcut must converge
    within max_iter=12 and still match the local union-find result."""
    from knowledge_graph_spark.operators.community import connected_components

    n = 120
    nodes = spark.createDataFrame([(f"N{i:04d}",) for i in range(n)], "title string")
    edges = spark.createDataFrame(
        [(f"N{i:04d}", f"N{i + 1:04d}") for i in range(n - 1)],
        "source string, target string",
    )
    dist = {
        r.title: r.component
        for r in connected_components(
            nodes, edges, max_iter=12, local_threshold=0
        ).collect()
    }
    assert set(dist.values()) == {"N0000"}  # one component, min label
    local = {
        r.title: r.component
        for r in connected_components(nodes, edges).collect()
    }
    assert dist == local


def test_distributed_lpa_matches_local_fixpoint(spark):
    """The distributed LPA path (local_threshold=0 → iterative joins)
    must produce the IDENTICAL labeling as the driver-local fixpoint on
    a moderate clustered graph — the gate corpus never crosses the
    200k-edge cutover, so this keeps the distributed path honest."""
    import itertools

    from knowledge_graph_spark.operators.community import label_propagation

    # three 8-cliques bridged by single weak edges
    names = [f"C{c}_{i}" for c in range(3) for i in range(8)]
    nodes = spark.createDataFrame([(n,) for n in names], "title string")
    rows = []
    for c in range(3):
        members = [f"C{c}_{i}" for i in range(8)]
        rows += [(a, b, 5.0) for a, b in itertools.combinations(members, 2)]
    rows += [("C0_0", "C1_0", 0.1), ("C1_7", "C2_0", 0.1)]
    edges = spark.createDataFrame(rows, "source string, target string, weight double")

    local = {
        r.title: r.community for r in label_propagation(nodes, edges).collect()
    }
    dist = {
        r.title: r.community
        for r in label_propagation(nodes, edges, local_threshold=0).collect()
    }
    assert dist == local
    # sanity: the three cliques resolve to three labels
    assert len(set(local.values())) == 3


def test_bfs_hops_min_distance_and_ball_cutoff(spark):
    from knowledge_graph_spark.operators.graphops import bfs_hops

    # path A-B-C-D plus shortcut A-C; E disconnected
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("A", "C"), ("E", "F")],
        "source string, target string",
    )
    seeds = spark.createDataFrame([("A",)], "title string")
    got = {r.title: r.hop for r in bfs_hops(edges, seeds, hops=2).collect()}
    # shortcut wins: C is 1 hop, D reachable at 2; E/F outside the ball
    assert got == {"A": 0, "B": 1, "C": 1, "D": 2}
    one = {r.title: r.hop for r in bfs_hops(edges, seeds, hops=1).collect()}
    assert one == {"A": 0, "B": 1, "C": 1}


def test_cc_warm_start_matches_cold_and_saves_rounds(spark):
    """Warm-start CC (init_labels from a pre-delta subgraph) must land on
    the identical init-independent fixpoint as a cold run on the full
    graph — and reconverge in fewer rounds, since only the delta's
    neighborhood is off its fixpoint."""
    # two 40-node chains; the delta bridges them and extends one end
    n = 40
    left = [f"L{i:03d}" for i in range(n)]
    right = [f"R{i:03d}" for i in range(n)]
    old_edges = [(a, b) for a, b in zip(left, left[1:])] + [
        (a, b) for a, b in zip(right, right[1:])
    ]
    delta = [("L039", "R000"), ("R039", "X000"), ("X000", "X001")]
    names = left + right + ["X000", "X001"]
    nodes = spark.createDataFrame([(x,) for x in names], "title string")
    old = spark.createDataFrame(old_edges, "source string, target string")
    full = spark.createDataFrame(old_edges + delta, "source string, target string")

    init = connected_components(nodes, old, local_threshold=0, max_iter=12)
    warm_log: list = []
    cold_log: list = []
    warm = {
        r.title: r.component
        for r in connected_components(
            nodes, full, local_threshold=0, max_iter=12,
            init_labels=init, round_log=warm_log,
        ).collect()
    }
    cold = {
        r.title: r.component
        for r in connected_components(
            nodes, full, local_threshold=0, max_iter=12, round_log=cold_log
        ).collect()
    }
    assert warm == cold
    assert set(warm.values()) == {"L000"}  # one merged component, min label
    assert len(warm_log) < len(cold_log)  # the incremental win


def test_cc_warm_start_from_fixpoint_verifies_in_one_round(spark):
    """init = the converged labels of the SAME graph → the first round
    changes nothing and the loop exits immediately."""
    nodes = spark.createDataFrame([(f"N{i}",) for i in range(30)], "title string")
    edges = spark.createDataFrame(
        [(f"N{i}", f"N{i + 1}") for i in range(29)], "source string, target string"
    )
    fix = connected_components(nodes, edges, local_threshold=0, max_iter=10)
    log: list = []
    again = connected_components(
        nodes, edges, local_threshold=0, init_labels=fix, round_log=log
    )
    assert len(log) == 1
    assert {r.title: r.component for r in again.collect()} == {
        r.title: r.component for r in fix.collect()
    }


def test_cc_warm_start_randomized_graphs_match_cold(spark):
    """Init-independence fuzz: random graphs + random insert deltas,
    arbitrary (even adversarial) init labels — the warm distributed path
    must always land on the cold fixpoint.  Fixed seed, driver-local
    union-find as the independent truth."""
    import random

    rng = random.Random(20260820)
    for trial in range(3):
        n = rng.randrange(30, 60)
        names = [f"N{trial}_{i:02d}" for i in range(n)]
        all_edges = [
            (names[rng.randrange(n)], names[rng.randrange(n)])
            for _ in range(rng.randrange(n, 3 * n))
        ]
        cut = rng.randrange(1, len(all_edges))
        nodes = spark.createDataFrame([(x,) for x in names], "title string")
        old = spark.createDataFrame(all_edges[:cut], "source string, target string")
        full = spark.createDataFrame(all_edges, "source string, target string")
        init = connected_components(nodes, old, local_threshold=0, max_iter=20)
        warm = {
            r.title: r.component
            for r in connected_components(
                nodes, full, local_threshold=0, max_iter=20, init_labels=init
            ).collect()
        }
        cold = _cc_truth(names, all_edges)
        assert warm == cold, f"trial {trial}"


def _cc_truth(names: list, edges: list) -> dict:
    parent = {x: x for x in names}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min reachable id = min over the final component
    comp: dict = {}
    for x in names:
        r = find(x)
        comp.setdefault(r, []).append(x)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def test_lpa_warm_start_distributed_matches_local_twin(spark):
    """Warm LPA is 'max_iter rounds from the given start': the distributed
    iterative-join path and the driver-local twin must agree round for
    round from the same init, including self-labels for new nodes."""
    import itertools

    names = [f"C{c}_{i}" for c in range(2) for i in range(6)] + ["NEW_0", "NEW_1"]
    nodes = spark.createDataFrame([(x,) for x in names], "title string")
    rows = []
    for c in range(2):
        members = [f"C{c}_{i}" for i in range(6)]
        rows += [(a, b, 4.0) for a, b in itertools.combinations(members, 2)]
    rows += [("C0_0", "NEW_0", 1.0), ("NEW_0", "NEW_1", 6.0)]
    edges = spark.createDataFrame(rows, "source string, target string, weight double")
    # prior labels cover only the cliques; NEW_* must self-label
    init = spark.createDataFrame(
        [(f"C{c}_{i}", f"C{c}_0") for c in range(2) for i in range(6)],
        "title string, community string",
    )
    local = {
        r.title: r.community
        for r in label_propagation(nodes, edges, max_iter=3, init_labels=init).collect()
    }
    dist = {
        r.title: r.community
        for r in label_propagation(
            nodes, edges, max_iter=3, local_threshold=0, init_labels=init
        ).collect()
    }
    assert dist == local


def test_lpa_warm_start_from_converged_labels_is_stable(spark):
    """A converged cold labeling is an LPA fixpoint — warm-starting from
    it on the unchanged graph returns it unchanged (one verify round)."""
    import itertools

    names = [f"C{c}_{i}" for c in range(3) for i in range(8)]
    nodes = spark.createDataFrame([(x,) for x in names], "title string")
    rows = []
    for c in range(3):
        members = [f"C{c}_{i}" for i in range(8)]
        rows += [(a, b, 5.0) for a, b in itertools.combinations(members, 2)]
    rows += [("C0_0", "C1_0", 0.1), ("C1_7", "C2_0", 0.1)]
    edges = spark.createDataFrame(rows, "source string, target string, weight double")
    cold = label_propagation(nodes, edges)
    log: list = []
    warm = label_propagation(
        nodes, edges, local_threshold=0, init_labels=cold, round_log=log
    )
    assert len(log) == 1
    assert {r.title: r.community for r in warm.collect()} == {
        r.title: r.community for r in cold.collect()
    }


# ---------------------------------------------------------------------------
# Round-5: depth-L hierarchy (VERDICT r4 #5) — coarsen_communities.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_coarsen_communities_containment_fuzz(spark, data):
    """Property fuzz (VERDICT r4 #5, mirroring the golden hierarchy
    fuzz): on RANDOM graphs, coarsen_communities(levels=3) emits, per
    level, a full partition of the node set; every finer community nests
    in exactly one coarser community; community counts are monotone
    (coarser ≤ finer); and reports.community_hierarchy over the leveled
    frame equals a sequential Python containment loop."""
    from knowledge_graph_spark.operators import reports
    from knowledge_graph_spark.operators.graphops import coarsen_communities

    n = data.draw(st.integers(min_value=4, max_value=24))
    m = data.draw(st.integers(min_value=3, max_value=60))
    names = [f"v{i:02d}" for i in range(n)]
    pairs = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, n - 1),
                st.integers(0, n - 1),
                st.integers(1, 9),
            ),
            min_size=m,
            max_size=m,
        )
    )
    edges = [
        (names[a], names[b], float(w)) for a, b, w in pairs if a != b
    ]
    if not edges:
        edges = [(names[0], names[1], 1.0)]
    nodes = spark.createDataFrame([(x,) for x in names], "title string")
    e = spark.createDataFrame(edges, "source string, target string, weight double")
    levels = 3
    lev = coarsen_communities(nodes, e, levels=levels, rounds=3)
    rows = lev.collect()
    by_level: dict = {}
    for r in rows:
        by_level.setdefault(r.level, {})[r.title] = r.community
    assert sorted(by_level) == list(range(levels))
    counts = {}
    for L, mp in by_level.items():
        # full partition: every node exactly once per level
        assert sorted(mp) == names, L
        counts[L] = len(set(mp.values()))
    for lo, hi in zip(range(levels - 1), range(1, levels)):
        assert counts[lo] <= counts[hi], counts  # coarser has <= communities
        parents = {}
        for t, c in by_level[hi].items():
            parents.setdefault(c, set()).add(by_level[lo][t])
        assert all(len(p) == 1 for p in parents.values()), (lo, hi)
    # community_hierarchy == sequential containment loop (the reference's
    # restore_community_hierarchy issubset check, run per adjacent pair)
    expected = set()
    member_sets: dict = {}
    for L, mp in by_level.items():
        for t, c in mp.items():
            member_sets.setdefault((L, c), set()).add(t)
    for (L, c), members in member_sets.items():
        for (L2, c2), sub in member_sets.items():
            if L2 == L + 1 and sub <= members:
                expected.add((c, L, c2, len(sub)))
    got = {
        (r.community, r.level, r.sub_community, r.sub_community_size)
        for r in reports.community_hierarchy(lev).collect()
    }
    assert got == expected
