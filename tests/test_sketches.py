"""HLL-style distinct sketch and Count-Min sketch (operators/sketches.py).

Local mirrors re-implement the identical integer recurrences; the
distributed register/counter tables must match EXACTLY, and the
estimates must meet the sketches' textbook error bounds.
"""

import math

import pytest

from knowledge_graph_spark.functions.hashing import (
    HASH_A,
    HASH_B,
    HASH_C,
    HASH_M31,
    poly_hash,
)
from knowledge_graph_spark.operators import sketches as sk


def _perm(x: int, i: int) -> int:
    a = (HASH_A * (i + 1)) % HASH_M31
    b = (HASH_B * (i + 1) + HASH_C) % HASH_M31
    return (a * x + b) % HASH_M31


def _row_hash(x: int, i: int) -> int:
    a, b, c = sk.row_coeffs(i)
    x2 = (x * x) % HASH_M31
    return ((a * x) % HASH_M31 + (b * x2) % HASH_M31 + c) % HASH_M31


def _hll_local(values, p=sk.HLL_P):
    m = 1 << p
    max_rank = 32 - p
    regs = {}
    for v in set(values):
        h = _perm(poly_hash(v), 0)
        reg, w = h % m, h // m
        rank = max_rank if w == 0 else (w & -w).bit_length()
        regs[reg] = max(regs.get(reg, 0), rank)
    return regs


@pytest.fixture(scope="module")
def tokens(spark):
    vals = [f"tok_{i}" for i in range(20000)]
    # duplicates must not change the sketch
    df = spark.createDataFrame([(v,) for v in vals + vals[:500]], "token: string")
    return df, vals


def test_hll_registers_match_local_mirror(spark, tokens):
    df, vals = tokens
    got = {r["register"]: r["max_rank"] for r in sk.hll_registers(df).collect()}
    assert got == _hll_local(vals)


def test_hll_estimate_within_error_bound(spark, tokens):
    df, vals = tokens
    row = sk.hll_distinct(df).collect()[0]
    n, m = len(set(vals)), row["m"]
    # raw HLL relative error ~1.04/sqrt(m) (= 6.5% at m=256); allow 3 sigma
    assert abs(row["estimate"] - n) / n < 3 * 1.04 / math.sqrt(m)
    assert row["sum_scaled"] == row["sum_scaled"]  # present and integral
    assert 0 <= row["n_zero"] < m


def test_hll_registers_merge_by_max(spark, tokens):
    df, vals = tokens
    half_a = spark.createDataFrame([(v,) for v in vals[:10000]], "token: string")
    half_b = spark.createDataFrame([(v,) for v in vals[10000:]], "token: string")
    ra = {r["register"]: r["max_rank"] for r in sk.hll_registers(half_a).collect()}
    rb = {r["register"]: r["max_rank"] for r in sk.hll_registers(half_b).collect()}
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    full = {r["register"]: r["max_rank"] for r in sk.hll_registers(df).collect()}
    assert merged == full


def test_cms_overestimates_never_under(spark):
    rows = [(f"t{i}", (i % 7) + 1) for i in range(2000)] + [("HEAVY", 5000)]
    counts = spark.createDataFrame(rows, "token: string, cnt: long")
    out = sk.cms_estimates(counts).collect()
    assert len(out) == 2001
    for r in out:
        assert r["est_cnt"] >= r["true_cnt"]
    heavy = [r for r in out if r["key"] == "HEAVY"][0]
    top = max(out, key=lambda r: r["est_cnt"])
    assert top["key"] == "HEAVY"
    # total mass N over w=512 buckets bounds the expected overcount
    n_total = sum(r["true_cnt"] for r in out)
    assert heavy["est_cnt"] - heavy["true_cnt"] <= 10 * n_total / sk.CMS_W


def test_cms_table_matches_local_mirror(spark):
    rows = [("a", 3), ("b", 5), ("c", 2)]
    counts = spark.createDataFrame(rows, "token: string, cnt: long")
    got = {(r["row"], r["bucket"]): r["total"] for r in sk.cms_table(counts).collect()}
    want = {}
    for t, c in rows:
        x = poly_hash(t)
        for i in range(sk.CMS_D):
            k = (i, _row_hash(x, i) % sk.CMS_W)
            want[k] = want.get(k, 0) + c
    assert got == want


def test_log2_histogram_buckets_and_merge(spark):
    rows = [(0, "a"), (1, "a"), (2, "a"), (3, "a"), (7, "b"), (8, "b"), (1023, "b")]
    df = spark.createDataFrame(rows, "v: long, g: string")
    got = {(r["g"], r["bucket"]): r["n"] for r in sk.log2_histogram(df, "v", "g").collect()}
    assert got == {
        ("a", 0): 1,  # v=0
        ("a", 1): 1,  # v=1
        ("a", 2): 2,  # v=2,3
        ("b", 3): 1,  # v=7
        ("b", 4): 1,  # v=8
        ("b", 10): 1,  # v=1023
    }
    # SUM-mergeable across disjoint shards
    ha = sk.log2_histogram(df.limit(3), "v", "g").collect()
    hb = sk.log2_histogram(df.subtract(df.limit(3)), "v", "g").collect()
    merged = {}
    for r in list(ha) + list(hb):
        merged[(r["g"], r["bucket"])] = merged.get((r["g"], r["bucket"]), 0) + r["n"]
    assert merged == got


def test_hyperball_registers_equal_true_ball_union(spark):
    """The round recursion ball_k(v) = {v} ∪ ⋃_{u∈N(v)} ball_{k-1}(u)
    must hold EXACTLY in sketch space: after R rounds, node v's register
    table equals the MAX-union of the singleton sketches of every node
    within R hops (computed locally).  Estimator bias is irrelevant to
    this invariant — it checks the distributed merge itself."""
    from collections import defaultdict

    from knowledge_graph_spark.functions.hashing import poly_hash
    from knowledge_graph_spark.operators.sketches import (
        HLL_P,
        hll_registers,
        hyperball,
    )
    from knowledge_graph_spark.functions.hashing import HASH_A, HASH_B, HASH_C, HASH_M31

    # ring of 24 nodes + two chords (so balls differ across nodes)
    n = 24
    names = [f"v{i:02d}" for i in range(n)]
    edges = [(names[i], names[(i + 1) % n]) for i in range(n)]
    edges += [(names[0], names[12]), (names[5], names[17])]
    rounds = 3

    # local truth: R-hop balls over the symmetrized graph
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    balls = {v: {v} for v in names}
    for _ in range(rounds):
        balls = {v: {v} | set().union(*(balls[u] for u in adj[v])) for v in names}

    # local singleton sketches with the shared hash family
    m, max_rank = 1 << HLL_P, 32 - HLL_P
    def singleton(v):
        h = (((HASH_A * 1) % HASH_M31) * poly_hash(v) + (HASH_B + HASH_C)) % HASH_M31
        w = h // m
        rank = max_rank if w == 0 else (w & -w).bit_length()
        return (h % m, rank)

    want = {}
    for v in names:
        regs = defaultdict(int)
        for u in balls[v]:
            reg, rank = singleton(u)
            regs[reg] = max(regs[reg], rank)
        want[v] = dict(regs)

    e = spark.createDataFrame(edges, "source string, target string")
    # reach inside: re-run the merge loop and inspect the register table
    from pyspark.sql import functions as F

    # replicate hyperball's internals up to the register table
    ee = e.select(F.col("source").alias("a"), F.col("target").alias("b")).distinct()
    adj_df = ee.unionByName(
        ee.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    nodes = adj_df.select(F.col("a").alias("node")).distinct()
    regs = hll_registers(nodes, col="node", strata_col="node")
    for _ in range(rounds):
        step = (
            regs.alias("R")
            .join(adj_df.alias("E"), F.col("R.node") == F.col("E.b"))
            .select(
                F.col("E.a").alias("node"),
                F.col("R.register").alias("register"),
                F.col("R.max_rank").alias("max_rank"),
            )
        )
        regs = (
            regs.unionByName(step)
            .groupBy("node", "register")
            .agg(F.max("max_rank").alias("max_rank"))
        )
    got = defaultdict(dict)
    for r in regs.collect():
        got[r.node][r.register] = r.max_rank
    assert dict(got) == want

    # and the public API returns one estimate row per node, all positive
    est = hyperball(e, rounds=rounds).collect()
    assert len(est) == n and all(r.estimate > 0 for r in est)


def test_kmv_overlap_estimates(spark):
    """KMV set-overlap: on sets of known overlap the Jaccard/union/
    intersection estimates land within the sketch's error regime, and
    below-k sets are counted exactly."""
    from pyspark.sql import functions as F

    from knowledge_graph_spark.operators.sketches import kmv_kmin, kmv_overlap

    a = spark.range(0, 1000).select((F.col("id") * 7919 + 13).alias("x"))
    b = spark.range(500, 1500).select((F.col("id") * 7919 + 13).alias("x"))
    r = kmv_overlap(kmv_kmin(a, k=64), kmv_kmin(b, k=64), k=64).first()
    assert abs(r.jaccard_micro / 1e6 - 1 / 3) < 0.2
    assert 0.6 * 1500 < r.union_est < 1.6 * 1500
    assert 0.3 * 500 < r.inter_est < 2.2 * 500
    assert 0.6 * 1000 < r.a_est < 1.6 * 1000

    # below-k sets: exact counts, disjoint -> zero match
    s = spark.range(0, 10).select((F.col("id") * 31 + 1).alias("x"))
    t = spark.range(100, 110).select((F.col("id") * 31 + 1).alias("x"))
    r2 = kmv_overlap(kmv_kmin(s, k=64), kmv_kmin(t, k=64), k=64).first()
    assert r2.n_a == 10 and r2.a_est == 10 and r2.b_est == 10
    assert r2.n_match == 0 and r2.jaccard_micro == 0 and r2.inter_est == 0
    assert r2.union_est == 20  # below k: the union sample IS the union
