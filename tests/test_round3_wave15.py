"""Round-3 wave-15 operators: double-sweep diameter lower bound, 1-WL
color refinement, event-time lateness audit, KG hour-over-hour churn,
distinct-n diversity, tf-idf cosine near-dup pairs.

WL colors are checked value-for-value against a pure-python mirror of the
shared polynomial hash (the strongest cross-engine exactness proof short
of the DuckDB gate); tfidf against a python mirror of the exact integer
weights; the rest against hand fixtures.
"""

import math

from pyspark.sql import functions as F

from knowledge_graph_spark.functions.hashing import poly_hash
from knowledge_graph_spark.operators.corpus import ngram_diversity
from knowledge_graph_spark.operators.dedup import tfidf_cosine_pairs
from knowledge_graph_spark.operators.graphops import (
    double_sweep_diameter,
    wl_refinement,
)
from knowledge_graph_spark.operators.temporal import lateness_profile


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


def test_lateness_profile_out_of_order_turn(spark):
    rows = [
        ("c1", 0, "2024-01-01 10:00:00"),
        ("c1", 1, "2024-01-01 10:05:00"),
        ("c1", 2, "2024-01-01 10:03:00"),
        ("c1", 3, "2024-01-01 10:10:00"),
        ("c2", 0, "2024-01-01 09:00:00"),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    got = {r["conv_id"]: r for r in lateness_profile(t).collect()}
    assert got["c1"].n_turns == 4 and got["c1"].n_late == 1
    assert got["c1"].max_late_us == 120_000_000
    assert got["c1"].total_late_us == 120_000_000
    assert got["c2"].n_late == 0 and got["c2"].max_late_us == 0


# --- distinct-n diversity ---------------------------------------------------


def test_ngram_diversity_hand_fixture(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z"), (3, "")], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r for r in ngram_diversity(docs).collect()}
    d1 = got[1]
    assert (d1.n_tokens, d1.distinct_1, d1.distinct_2, d1.distinct_3) == (4, 1, 1, 1)
    assert d1.ratio_micro_1 == 250_000
    assert d1.ratio_micro_2 == 333_333
    assert d1.ratio_micro_3 == 500_000
    d2 = got[2]
    assert (d2.distinct_1, d2.distinct_2, d2.distinct_3) == (4, 3, 2)
    assert d2.ratio_micro_1 == 1_000_000
    d3 = got[3]
    assert d3.n_tokens == 0 and d3.distinct_1 == 0 and d3.ratio_micro_1 == 0


# --- tf-idf cosine ----------------------------------------------------------


def _tfidf_mirror(docs: dict, threshold_micro: int, max_df: int) -> dict:
    toks = {d: t.lower().split() for d, t in docs.items()}
    tf = {d: {} for d in docs}
    for d, ts in toks.items():
        for w in ts:
            tf[d][w] = tf[d].get(w, 0) + 1
    df = {}
    for d in tf:
        for w in tf[d]:
            df[w] = df.get(w, 0) + 1
    n_docs = sum(1 for d in tf if tf[d])
    weights = {
        d: {
            w: c * ((n_docs // df[w]).bit_length() - 1)
            for w, c in tf[d].items()
            if df[w] <= max_df and (n_docs // df[w]).bit_length() - 1 > 0
        }
        for d in tf
    }
    norms = {d: sum(v * v for v in ws.values()) for d, ws in weights.items()}
    out = {}
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            dot = sum(weights[a][w] * weights[b].get(w, 0) for w in weights[a])
            if dot <= 0:
                continue
            sim = math.floor(1e6 * dot / math.sqrt(float(norms[a]) * float(norms[b])))
            if sim >= threshold_micro:
                out[(a, b)] = (dot, sim)
    return out


def test_tfidf_cosine_matches_python_mirror(spark):
    docs = {
        1: "alpha beta gamma delta",
        2: "alpha beta gamma epsilon",
        3: "zeta eta theta iota",
        4: "alpha common common common",
        5: "zeta eta theta kappa",
    }
    sdf = spark.createDataFrame(list(docs.items()), "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): (r.dot, r.sim_micro)
        for r in tfidf_cosine_pairs(sdf, threshold_micro=100_000).collect()
    }
    want = _tfidf_mirror(docs, threshold_micro=100_000, max_df=1000)
    assert got == want
    assert (1, 2) in got and (3, 5) in got  # the two near-dup pairs survive


def test_tfidf_df_pruning_drops_stop_terms(spark):
    # a term in EVERY doc has idf_bits = 0 and must not create candidates
    docs = [(i, "common filler%d" % i) for i in range(1, 5)]
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    assert tfidf_cosine_pairs(sdf, threshold_micro=1).count() == 0


def _ngram_toks(text: str, n: int):
    t = text.lower().split()
    if len(t) < n:
        return []
    return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


def test_tfidf_bigram_terms_match_mirror(spark):
    docs = {
        1: "the quick brown fox jumps",
        2: "the quick brown fox sleeps",
        3: "lazy dogs sleep all day",
        4: "lazy dogs sleep all night",
    }
    sdf = spark.createDataFrame(list(docs.items()), "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): (r.dot, r.sim_micro)
        for r in tfidf_cosine_pairs(sdf, threshold_micro=100_000, n=2).collect()
    }
    grams = {d: _ngram_toks(t, 2) for d, t in docs.items()}
    # hand-rolled mirror on bigram terms
    tf = {d: {} for d in docs}
    for d, ts in grams.items():
        for w in ts:
            tf[d][w] = tf[d].get(w, 0) + 1
    df = {}
    for d in tf:
        for w in tf[d]:
            df[w] = df.get(w, 0) + 1
    n_docs = len(docs)
    weights = {
        d: {
            w: c * ((n_docs // df[w]).bit_length() - 1)
            for w, c in tf[d].items()
            if (n_docs // df[w]).bit_length() - 1 > 0
        }
        for d in tf
    }
    norms = {d: sum(v * v for v in ws.values()) for d, ws in weights.items()}
    want = {}
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            dot = sum(weights[a][w] * weights[b].get(w, 0) for w in weights[a])
            if dot <= 0:
                continue
            sim = math.floor(1e6 * dot / math.sqrt(float(norms[a]) * float(norms[b])))
            if sim >= 100_000:
                want[(a, b)] = (dot, sim)
    assert got == want and (1, 2) in got and (3, 4) in got
