"""Round-3 wave-11 operator: coarsen_by_matching (graphops.py).

Coarsening is checked against its conservation invariants
(total weight preserved, matched nodes absent from the coarse vertex
set, self-loops exactly the contracted pairs' internal weight) and a
hand-computed two-pair fixture.
"""

from pyspark.sql import functions as F


def _edges(spark, rows):
    return spark.createDataFrame(rows, "source string, target string, weight double")


def test_coarsen_hand_fixture(spark):
    from knowledge_graph_spark.operators.graphops import coarsen_by_matching

    # matching: (A,B) and (C,D); E unmatched
    e = _edges(
        spark,
        [
            ("A", "B", 2.0),  # internal -> self-loop at A
            ("A", "C", 1.0),  # cross -> (A, C)
            ("B", "D", 3.0),  # cross -> (A, C) too (B->A, D->C)
            ("D", "E", 5.0),  # half-matched -> (C, E)
        ],
    )
    m = spark.createDataFrame([("A", "B"), ("C", "D")], "source string, target string")
    got = {(r.a, r.b): (r.w, r.n_multi) for r in coarsen_by_matching(e, m).collect()}
    assert got[("A", "A")] == (2.0, 1)
    assert got[("A", "C")] == (4.0, 2)  # A-C and B-D collapse
    assert got[("C", "E")] == (5.0, 1)
    assert len(got) == 3


def test_coarsen_invariants_on_matching(spark):
    from knowledge_graph_spark.operators.graphops import (
        coarsen_by_matching,
        maximal_matching,
    )

    rows = []
    for i in range(30):
        rows.append((f"n{i}", f"n{(i + 1) % 30}", float(1 + i % 3)))
        rows.append((f"n{i}", f"n{(i + 7) % 30}", 1.0))
    e = _edges(spark, rows)
    m = maximal_matching(e.select("source", "target"), rounds=4)
    coarse = coarsen_by_matching(e, m)
    # weight conservation
    tot_fine = e.agg(F.sum("weight")).first()[0]
    tot_coarse = coarse.agg(F.sum("w")).first()[0]
    assert abs(tot_fine - tot_coarse) < 1e-9
    assert coarse.agg(F.sum("n_multi")).first()[0] == e.count()
    # matched TARGETS never survive as coarse endpoints
    gone = {r.target for r in m.collect()}
    endpoints = {r.a for r in coarse.collect()} | {r.b for r in coarse.collect()}
    assert not (gone & endpoints)
    # coarse vertex count = fine count - |matching|
    fine_nodes = {r.source for r in e.collect()} | {r.target for r in e.collect()}
    assert len(endpoints) == len(fine_nodes) - m.count()


def test_coarsen_hierarchy_conserves_and_shrinks(spark):
    from knowledge_graph_spark.operators.graphops import coarsen_hierarchy

    rows = []
    for i in range(40):
        rows.append((f"n{i}", f"n{(i + 1) % 40}", 2.0))
        rows.append((f"n{i}", f"n{(i + 9) % 40}", 1.0))
    e = _edges(spark, rows)
    l1 = coarsen_hierarchy(e, levels=1)
    l2 = coarsen_hierarchy(e, levels=2)
    # provenance: every original edge accounted for at every level
    assert l1.agg(F.sum("n_multi")).first()[0] == 80
    assert l2.agg(F.sum("n_multi")).first()[0] == 80
    assert abs(l2.agg(F.sum("w")).first()[0] - 120.0) < 1e-9
    # each level strictly shrinks the vertex set (matching is non-empty
    # on this dense ring)
    def n_nodes(df):
        return len({r.a for r in df.collect()} | {r.b for r in df.collect()})
    assert n_nodes(l2) < n_nodes(l1) < 40
    # level-2 == manual compose: match+contract the level-1 output
    from knowledge_graph_spark.operators.graphops import (
        coarsen_by_matching,
        maximal_matching,
    )

    m2 = maximal_matching(
        l1.filter(F.col("a") != F.col("b")).select(
            F.col("a").alias("source"), F.col("b").alias("target")
        ),
        rounds=4,
    )
    manual = coarsen_by_matching(
        l1, m2, src="a", dst="b", weight_col="w", count_col="n_multi"
    )
    got = {(r.a, r.b): (r.w, r.n_multi) for r in l2.collect()}
    want = {(r.a, r.b): (r.w, r.n_multi) for r in manual.collect()}
    assert got == want


def test_coarsen_empty_matching_is_canonicalization(spark):
    from knowledge_graph_spark.operators.graphops import coarsen_by_matching

    e = _edges(spark, [("B", "A", 1.0), ("A", "B", 2.0), ("C", "C", 4.0)])
    m = spark.createDataFrame([], "source string, target string")
    got = {(r.a, r.b): (r.w, r.n_multi) for r in coarsen_by_matching(e, m).collect()}
    assert got == {("A", "B"): (3.0, 2), ("C", "C"): (4.0, 1)}
