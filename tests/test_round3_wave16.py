"""Round-3 wave-16 operators: per-group integer PageRank (the TextRank
kernel) and TextRank turn salience.

grouped_pagerank is checked for exact agreement with pagerank_int on a
single-group graph (the two loops share the same integer arithmetic, so
the values must be bit-identical) and for per-group teleport independence
on a multi-group frame.
"""

from knowledge_graph_spark.operators.assemble import textrank_turns
from knowledge_graph_spark.operators.graphops import grouped_pagerank, pagerank_int


def _gedges(spark, rows):
    return spark.createDataFrame(rows, "group string, u string, v string, w long")


def _gnodes(spark, rows):
    return spark.createDataFrame(rows, "group string, node string")


# --- grouped_pagerank -------------------------------------------------------


def test_grouped_matches_global_on_single_group(spark):
    # one group == plain PageRank: identical integer values round-for-round
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    flat = spark.createDataFrame(edges, "source string, target string")
    want = {r["title"]: r["rank_scaled"] for r in pagerank_int(flat, iterations=4).collect()}
    sym = [("g", s, t, 1) for s, t in edges] + [("g", t, s, 1) for s, t in edges]
    nodes = _gnodes(spark, [("g", n) for n in "abcd"])
    got = {
        r["node"]: r["rank_scaled"]
        for r in grouped_pagerank(
            _gedges(spark, sym), nodes, iterations=4, weight_col="w"
        ).collect()
    }
    assert got == want


def test_grouped_groups_are_independent(spark):
    # the same graph in two groups ranks identically; a third group's
    # presence cannot perturb either (per-group teleport normalization)
    sym = [("g1", "a", "b", 1), ("g1", "b", "a", 1)]
    both = sym + [("g2", "a", "b", 1), ("g2", "b", "a", 1), ("g3", "x", "y", 3), ("g3", "y", "x", 3)]
    n1 = _gnodes(spark, [("g1", "a"), ("g1", "b")])
    nall = _gnodes(
        spark, [("g1", "a"), ("g1", "b"), ("g2", "a"), ("g2", "b"), ("g3", "x"), ("g3", "y")]
    )
    solo = {
        r["node"]: r["rank_scaled"]
        for r in grouped_pagerank(_gedges(spark, sym), n1, weight_col="w").collect()
    }
    rows = grouped_pagerank(_gedges(spark, both), nall, weight_col="w").collect()
    g1 = {r["node"]: r["rank_scaled"] for r in rows if r["group"] == "g1"}
    g2 = {r["node"]: r["rank_scaled"] for r in rows if r["group"] == "g2"}
    assert g1 == solo and g2 == solo
    # weight scaling cancels within a symmetric 2-clique: same fixpoint
    g3 = {r["node"]: r["rank_scaled"] for r in rows if r["group"] == "g3"}
    assert g3 == {"x": solo["a"], "y": solo["b"]}


def test_grouped_isolated_node_keeps_teleport_only(spark):
    # n_g = 3: the isolated node converges to pure per-group teleport
    sym = [("g", "a", "b", 1), ("g", "b", "a", 1)]
    nodes = _gnodes(spark, [("g", "a"), ("g", "b"), ("g", "c")])
    got = {
        r["node"]: r["rank_scaled"]
        for r in grouped_pagerank(_gedges(spark, sym), nodes, weight_col="w").collect()
    }
    base = (10**12 * 15) // (100 * 3)
    assert got["c"] == base
    assert got["a"] == got["b"] > base


# --- textrank_turns ---------------------------------------------------------


def test_textrank_clique_outranks_isolates(spark):
    t = spark.createDataFrame(
        [
            ("c1", 0, "alpha beta gamma"),
            ("c1", 1, "beta gamma delta"),
            ("c1", 2, "epsilon zeta"),
            ("c1", 3, "unique words only"),
            ("c2", 0, "solo turn"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    got = {(r["conv_id"], r["turn_idx"]): r["rank_scaled"] for r in textrank_turns(t).collect()}
    assert len(got) == 5
    # the 2-clique holds all non-teleport mass; isolates get pure teleport
    base4 = (10**12 * 15) // (100 * 4)
    assert got[("c1", 2)] == got[("c1", 3)] == base4
    assert got[("c1", 0)] == got[("c1", 1)] > base4
    # a 1-turn conversation keeps only its teleport (dangling mass drops)
    assert got[("c2", 0)] == (10**12 * 15) // 100


def test_textrank_hub_turn_ranks_first(spark):
    # turn 1 shares a token with every other turn: highest centrality
    t = spark.createDataFrame(
        [
            ("c", 0, "alpha one"),
            ("c", 1, "alpha beta gamma"),
            ("c", 2, "beta two"),
            ("c", 3, "gamma three"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    rows = sorted(textrank_turns(t).collect(), key=lambda r: -r["rank_scaled"])
    assert rows[0]["turn_idx"] == 1


def test_textrank_arrow_kernel_matches_relational_on_synth(spark):
    """The dense per-group Arrow kernel and the relational grouped-
    PageRank loop must be bit-identical — same int64 floor-division
    arithmetic, different physical plan (1 shuffle vs 5×2)."""
    from knowledge_graph_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=40, base_turns=12)
    arrow = {
        (r["conv_id"], r["turn_idx"]): r["rank_scaled"]
        for r in textrank_turns(t).collect()
    }
    rel = {
        (r["conv_id"], r["turn_idx"]): r["rank_scaled"]
        for r in textrank_turns(t, kernel="relational").collect()
    }
    assert arrow == rel and len(arrow) > 100


def test_textrank_arrow_kernel_matches_relational_edge_cases(spark):
    """Isolated turns, empty text, and a single-turn conversation take
    the same values through both kernels."""
    t = spark.createDataFrame(
        [
            ("c1", 0, "alpha beta"),
            ("c1", 1, "beta gamma"),
            ("c1", 2, ""),
            ("c1", 3, "   "),
            ("c2", 0, "solo"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    arrow = {
        (r["conv_id"], r["turn_idx"]): r["rank_scaled"]
        for r in textrank_turns(t).collect()
    }
    rel = {
        (r["conv_id"], r["turn_idx"]): r["rank_scaled"]
        for r in textrank_turns(t, kernel="relational").collect()
    }
    assert arrow == rel and len(arrow) == 5


# --- weak labels ------------------------------------------------------------


# --- quality survivors -------------------------------------------------------
