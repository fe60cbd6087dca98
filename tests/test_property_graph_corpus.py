"""Hypothesis property tests for the session-5 operators.

Each property replays the operator in pure Python over randomized small
inputs — broader input coverage than the fixed fixtures, bounded example
counts so the Spark round-trips stay cheap.
"""

from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from knowledge_graph_spark.operators.graphops import (
    WIDEST_SEED_STRENGTH,
    widest_paths,
)

NODES = ["a", "b", "c", "d", "e", "f"]

edges_strategy = st.lists(
    st.tuples(
        st.sampled_from(NODES),
        st.sampled_from(NODES),
        st.integers(min_value=1, max_value=9),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=10,
)


def _widest_fixpoint(edges, seed):
    adj = defaultdict(dict)
    for u, v, w in edges:
        adj[u][v] = max(adj[u].get(v, 0), w)
        adj[v][u] = max(adj[v].get(u, 0), w)
    s = {seed: WIDEST_SEED_STRENGTH}
    changed = True
    while changed:
        changed = False
        for u in list(s):
            for v, w in adj[u].items():
                cand = min(s[u], w)
                if cand > s.get(v, -1):
                    s[v] = cand
                    changed = True
    return s


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edges_strategy)
def test_widest_paths_converges_to_fixpoint(spark, edges):
    df = spark.createDataFrame(
        [(u, v, float(w)) for u, v, w in edges],
        "source string, target string, weight double",
    )
    seed = edges[0][0]
    seeds = spark.createDataFrame([(seed,)], "title string")
    # |V| - 1 rounds always closes any path
    rounds = len(NODES) - 1
    got = {r.title: r.strength for r in widest_paths(df, seeds, rounds).collect()}
    assert got == _widest_fixpoint(edges, seed)


partitions_strategy = st.lists(
    st.tuples(
        st.sampled_from(NODES),
        st.sampled_from(["x", "y", "z"]),
        st.sampled_from(["p", "q", "r"]),
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda t: t[0],
)


def _pair_stats(rows):
    from itertools import combinations

    both = pa = pb = 0
    for (n1, a1, b1), (n2, a2, b2) in combinations(sorted(rows), 2):
        sa, sb = a1 == a2, b1 == b2
        pa += sa
        pb += sb
        both += sa and sb
    n = len(rows)
    tot = n * (n - 1) // 2
    tn = tot - pa - pb + both
    return {
        "n_nodes": n,
        "pairs_total": tot,
        "pairs_both": both,
        "pairs_a": pa,
        "pairs_b": pb,
        "rand_micro": (both + tn) * 1_000_000 // max(1, tot),
        "precision_micro": both * 1_000_000 // max(1, pa),
        "recall_micro": both * 1_000_000 // max(1, pb),
        "f1_micro": 2 * both * 1_000_000 // max(1, pa + pb),
    }


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=partitions_strategy)
def test_partition_agreement_matches_pairwise_mirror(spark, rows):
    """partition_agreement's contingency-table sums must equal the naive
    all-pairs enumeration on every random partition pair (and its
    bounds/symmetry fall out of the mirror equality)."""
    from knowledge_graph_spark.operators.graphops import partition_agreement

    a = spark.createDataFrame(
        [(n, la) for n, la, _ in rows], "title string, community string"
    )
    b = spark.createDataFrame(
        [(n, lb) for n, _, lb in rows], "title string, component string"
    )
    got = partition_agreement(a, b).collect()[0].asDict()
    assert got == _pair_stats(rows)
