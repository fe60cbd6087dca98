"""Round-3 wave-10 operators: topic_segments (assemble.py),
negative_samples / jp_coloring (graphops.py).

topic_segments is checked against hand-computed values;
negative_samples against a pure-Python replay of the shared hash family;
jp_coloring against the proper-coloring invariant (no decided edge is
monochrome) plus mex-boundedness.
"""

from knowledge_graph_spark.functions.hashing import HASH_A, HASH_B, HASH_C, HASH_M31
from knowledge_graph_spark.functions.textqc import FP_BASE, FP_MOD


def _fp(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * FP_BASE + ord(ch)) % FP_MOD
    return h


def test_topic_segments_boundaries(spark):
    from knowledge_graph_spark.operators.assemble import topic_segments

    rows = [
        # c1: t0 boundary (first), t1 same tokens (jac 1 >= 1/4), t2 disjoint
        ("c1", 0, "alpha beta gamma"),
        ("c1", 1, "beta alpha gamma"),
        ("c1", 2, "delta epsilon zeta"),
        # c2: overlap 1 of union 5 -> 1/5 < 1/4 boundary; then 2 of 4 -> stays
        ("c2", 0, "a b c"),
        ("c2", 1, "c d e"),
        ("c2", 2, "d e f"),
        # c3: empty turn after non-empty -> boundary; empty after empty -> not
        ("c3", 0, "x"),
        ("c3", 1, ""),
        ("c3", 2, ""),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {
        (r.conv_id, r.turn_idx): (r.is_boundary, r.seg_id)
        for r in topic_segments(t).collect()
    }
    assert out[("c1", 0)] == (True, 1)
    assert out[("c1", 1)] == (False, 1)  # Jaccard 1 >= 1/4
    assert out[("c1", 2)] == (True, 2)  # disjoint
    assert out[("c2", 0)] == (True, 1)
    assert out[("c2", 1)] == (True, 2)  # 1/5 < 1/4
    assert out[("c2", 2)] == (False, 2)  # 2/4 >= 1/4
    assert out[("c3", 0)] == (True, 1)
    assert out[("c3", 1)] == (True, 2)  # overlap 0, union 1
    assert out[("c3", 2)] == (False, 2)  # union 0: strict < fails


def test_topic_segments_case_fold(spark):
    from knowledge_graph_spark.operators.assemble import topic_segments

    t = spark.createDataFrame(
        [("c", 0, "Foo BAR"), ("c", 1, "foo bar baz quux boo")],
        "conv_id string, turn_idx int, text string",
    )
    out = {r.turn_idx: r.is_boundary for r in topic_segments(t).collect()}
    # overlap {foo, bar}=2, union 5 -> 2/5 >= 1/4: same segment
    assert out[1] is False


def test_negative_samples_replay(spark):
    from knowledge_graph_spark.operators.graphops import negative_samples

    nodes = ["n0", "n1", "n2", "n3", "n4", "n5"]
    edges = [("n0", "n1"), ("n1", "n2"), ("n3", "n4")]
    ndf = spark.createDataFrame([(x,) for x in nodes], "title string")
    edf = spark.createDataFrame(edges, "source string, target string")
    k = 3
    out = negative_samples(ndf, edf, k=k).collect()
    assert len(out) == k * len(edges)

    order = sorted(nodes)
    truth = {tuple(sorted(e)) for e in edges}
    for r in out:
        x = _fp(f"{r.source}|{r.target}")
        a_j = (HASH_A * (r.sample_idx + 1)) % HASH_M31
        b_j = (HASH_B * (r.sample_idx + 1) + HASH_C) % HASH_M31
        cand = ((a_j * x + b_j) % HASH_M31) % len(nodes)
        assert r.neg_target == order[cand], r
        clean = (
            r.neg_target != r.source
            and r.neg_target != r.target
            and tuple(sorted((r.source, r.neg_target))) not in truth
        )
        assert r.is_clean == clean, r


def test_jp_coloring_proper(spark):
    from pyspark.sql import functions as F

    from knowledge_graph_spark.operators.graphops import jp_coloring

    n = 40
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
            for i in range(120)
        }
    )
    edges = [(f"v{a}", f"v{b}") for a, b in edges if a != b]
    ndf = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("title"))
    edf = spark.createDataFrame(edges, "source string, target string")
    out = jp_coloring(ndf, edf, rounds=12).collect()
    color = {r.title: r.color for r in out}
    assert len(color) == n  # every node exactly once
    decided = {v: c for v, c in color.items() if c >= 0}
    # with 12 rounds on 40 nodes everything should decide
    assert len(decided) == n
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for a, b in edges:  # proper: no monochrome edge among decided nodes
        assert color[a] != color[b], (a, b)
    for v, c in decided.items():  # mex-bounded: color <= degree
        assert c <= len(adj.get(v, ())), v
    # greedy-mex tightness: some node of every used color has all smaller
    # colors present in its neighbourhood
    for v, c in decided.items():
        if c > 0:
            used = {color[u] for u in adj[v]}
            assert set(range(c)) <= used, (v, c)


def test_jp_coloring_leftovers_flagged(spark):
    from knowledge_graph_spark.operators.graphops import jp_coloring

    # a triangle with 1 round: exactly one winner colors itself, the
    # rest must be flagged -1/round 0, never guessed
    ndf = spark.createDataFrame([("a",), ("b",), ("c",)], "title string")
    edf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "source string, target string"
    )
    out = {r.title: (r.color, r.round) for r in jp_coloring(ndf, edf, rounds=1).collect()}
    n_colored = sum(1 for c, _ in out.values() if c >= 0)
    assert n_colored == 1
    assert all((c, rd) == (-1, 0) for c, rd in out.values() if c < 0)
