"""Session-9 operator wave: seeded type propagation, maximal matching.

Each operator's gate is hash-checked against its DuckDB oracle by
tools/check_entry.py; these tests pin the SEMANTIC properties the hash
can't express — matching validity/maximality, seed clamping — on small
closed-form fixtures.
"""

import networkx as nx

from knowledge_graph_spark.operators.graphops import (
    maximal_matching,
    seeded_type_propagation,
)


def _edges_df(spark, edges, weighted=False):
    if weighted:
        return spark.createDataFrame(
            edges, "source string, target string, weight double"
        )
    return spark.createDataFrame(edges, "source string, target string")


# ---------------------------------------------------------------------------
# seeded_type_propagation
# ---------------------------------------------------------------------------


def test_typed_lpa_seed_clamp_and_majority(spark):
    """Seeds never change; a masked node adopts its weighted neighbour
    majority; tie breaks to the lexicographically smaller type."""
    # star: center c, leaves l1 (PERSON, w=3), l2 (GEO, w=1), l3 (GEO, w=1)
    nodes = spark.createDataFrame(
        [("c", "EVENT"), ("l1", "PERSON"), ("l2", "GEO"), ("l3", "GEO")],
        "title string, type string",
    )
    edges = _edges_df(
        spark,
        [("c", "l1", 3.0), ("c", "l2", 1.0), ("c", "l3", 1.0)],
        weighted=True,
    )
    # force c masked, leaves seeded, via mask_mod=1? no — pick a mask the
    # fixture controls: mask_mod large enough that fingerprints decide.
    # Instead drive determinism by checking BOTH regimes from the output
    # flags themselves.
    out = {
        r.title: r
        for r in seeded_type_propagation(nodes, edges, rounds=3, mask_mod=2).collect()
    }
    for t, r in out.items():
        if r.is_seed:
            # clamped: prediction is always the true type
            assert r.pred_type == r.true_type and r.correct
    # the masked set is fingerprint-determined; whatever it is, every
    # masked node with at least one seeded neighbour must carry a
    # prediction after 3 rounds on this connected star
    seeded = {t for t, r in out.items() if r.is_seed}
    if "c" not in seeded and seeded & {"l1", "l2", "l3"}:
        c = out["c"]
        # weighted majority: PERSON wins iff l1 seeded and 3 > sum of
        # seeded GEO weights; on a tie the lexicographically smaller
        # label (GEO < PERSON) wins
        w = {"PERSON": 3 if "l1" in seeded else 0}
        w["GEO"] = (1 if "l2" in seeded else 0) + (1 if "l3" in seeded else 0)
        expect = min(k for k in w if w[k] == max(w.values()))
        assert c.pred_type == expect


def test_typed_lpa_explicit_majority(spark):
    """Pin an exact majority outcome with mask_mod chosen so the masked
    set is known: fingerprint('B_CENTER') % 1 == 0 masks EVERY node —
    then nothing can propagate (no seeds) and predictions are all NULL."""
    nodes = spark.createDataFrame(
        [("A", "PERSON"), ("B", "GEO")], "title string, type string"
    )
    edges = _edges_df(spark, [("A", "B", 1.0)], weighted=True)
    out = seeded_type_propagation(nodes, edges, rounds=2, mask_mod=1).collect()
    assert all(not r.is_seed and r.pred_type is None for r in out)


def test_typed_lpa_two_hop_propagation(spark):
    """With rounds >= 2 a type crosses two hops: seed - masked - masked."""
    # chain s - m1 - m2; force masking via mask_mod by probing flags
    from knowledge_graph_spark.functions.textqc import FP_BASE, FP_MOD

    def fp(s):
        h = 0
        for ch in s:
            h = (h * FP_BASE + ord(ch)) % FP_MOD
        return h

    # find titles: one seed (fp % 3 != 0) and two masked (fp % 3 == 0)
    seed_t = next(f"S{i}" for i in range(100) if fp(f"S{i}") % 3 != 0)
    masked = [f"M{i}" for i in range(200) if fp(f"M{i}") % 3 == 0][:2]
    nodes = spark.createDataFrame(
        [(seed_t, "PERSON"), (masked[0], "GEO"), (masked[1], "GEO")],
        "title string, type string",
    )
    edges = _edges_df(
        spark,
        [(seed_t, masked[0], 1.0), (masked[0], masked[1], 1.0)],
        weighted=True,
    )
    out = {
        r.title: r
        for r in seeded_type_propagation(nodes, edges, rounds=3, mask_mod=3).collect()
    }
    assert out[seed_t].is_seed and not out[masked[0]].is_seed
    assert out[masked[0]].pred_type == "PERSON"
    assert out[masked[1]].pred_type == "PERSON"  # arrived via round 2+


# ---------------------------------------------------------------------------
# maximal_matching
# ---------------------------------------------------------------------------


def test_maximal_matching_valid_and_maximal(spark):
    """On a pseudo-random graph the output is a VALID matching (node-
    disjoint edges, every edge from the input) and with enough rounds
    MAXIMAL (no remaining edge has both endpoints unmatched)."""
    from knowledge_graph_spark.functions.hashing import HASH_A, HASH_C, HASH_M31

    n = 40
    edges = sorted(
        {
            tuple(
                sorted(
                    (
                        f"n{((HASH_A * (i + 7) + HASH_C) % HASH_M31) % n:02d}",
                        f"n{(((HASH_A * (i + 7) + HASH_C) % HASH_M31) // n) % n:02d}",
                    )
                )
            )
            for i in range(120)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    edf = _edges_df(spark, edges)
    out = maximal_matching(edf, rounds=8).collect()
    matched_edges = {(r.source, r.target) for r in out}
    assert matched_edges <= set(edges)
    nodes_used = [x for e in matched_edges for x in e]
    assert len(nodes_used) == len(set(nodes_used))  # node-disjoint
    # maximality: every input edge touches a matched node
    mset = set(nodes_used)
    assert all(a in mset or b in mset for a, b in edges)


def test_maximal_matching_triangle_and_chain(spark):
    """A triangle yields exactly one matched edge; a 4-chain yields a
    perfect matching of 2 edges with enough rounds."""
    tri = _edges_df(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    out = maximal_matching(tri, rounds=4).collect()
    assert len(out) == 1
    chain = _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    out2 = {(r.source, r.target) for r in maximal_matching(chain, rounds=6).collect()}
    # maximal matchings of a 4-chain: {ab, cd} (perfect) or {bc} alone
    assert out2 in ({("a", "b"), ("c", "d")}, {("b", "c")})
    # verify against networkx: is it a maximal matching?
    g = nx.Graph([("a", "b"), ("b", "c"), ("c", "d")])
    assert nx.is_maximal_matching(g, {tuple(e) for e in out2})


def test_maximal_matching_dedups_multi_edges(spark):
    """Parallel and reversed duplicate edges collapse before matching."""
    edf = _edges_df(spark, [("a", "b"), ("b", "a"), ("a", "b")])
    out = maximal_matching(edf, rounds=2).collect()
    assert [(r.source, r.target) for r in out] == [("a", "b")]


# ---------------------------------------------------------------------------
# blocking_quality
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# comention_burst_profile
# ---------------------------------------------------------------------------
