"""Deterministic mergeable sketches: HLL-style distinct count and
Count-Min frequency, on the SQL-expressible hash family.

At 100 TB the first questions a corpus owner asks — how many distinct
tokens/users/entities, what are the heavy hitters — are sketch
questions: the exact answers need a full shuffle of the key space, the
sketches need one map-side-combinable pass over a few KB of state.
Spark's built-ins (``approx_count_distinct``, the RDD CountMinSketch)
use engine-private hashing, so their outputs cannot be cross-checked
against an independent engine.  These reimplementations run on
``functions/hashing.py`` (polynomial fold + (a·x+b) mod 2^31−1
permutations, every intermediate int64-safe), so the ENTIRE sketch —
every register, every counter, and the final estimate — is reproduced
bit-for-bit by a DuckDB oracle.

Both sketches are algebraic aggregates: registers merge by MAX, counters
by SUM, so partial sketches combine map-side and across table shards /
streaming micro-batches without re-scanning (the same mergeability that
makes them work as per-partition lineage metrics).

HLL here is the raw Flajolet-Fuss-Gandouet-Meunier estimator (alpha_m ·
m² / Σ 2^−M_j) WITHOUT the small/large-range corrections — those need
libm ``ln`` whose last-ulp behavior differs across engines.  The raw
estimator's ±1.04/√m relative error holds in the sketch's design regime
(n ≫ m); the gate exposes (n_zero, sum_scaled) so a caller can apply
any correction downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import HASH_A, HASH_B, HASH_C, HASH_M31
from ..functions.textqc import FP_BASE, FP_MOD

HLL_P = 8  # 2^8 = 256 registers
HLL_SCALE = 1 << 30  # fixed-point base for sum(2^-rank): SCALE >> rank


def poly_hash_col(c) -> F.Column:
    """Sequential polynomial string hash — the Column mirror of
    functions.hashing.poly_hash (same fold textqc.rolling_fingerprint
    uses, shared verbatim with the oracles)."""
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD,
    )


def perm_col(x, i: int) -> F.Column:
    """perm_i(x) = (a_i·x + b_i) mod M31 with the shared coefficients."""
    a = (HASH_A * (i + 1)) % HASH_M31
    b = (HASH_B * (i + 1) + HASH_C) % HASH_M31
    return (F.lit(a) * x + F.lit(b)) % F.lit(HASH_M31)


def _mix(v: int) -> int:
    """Python-side coefficient scrambler (splitmix-style).  CMS rows need
    MUTUALLY independent hash functions: the affine family perm_i has
    coefficients linear in i, so one colliding pair can collide in EVERY
    row (measured: 'HEAVY' vs 't1376' under perm_i mod 512).  Coefficients
    are compile-time literals on both engines, so they may come from any
    deterministic scramble — only the per-VALUE arithmetic must be
    SQL-expressible."""
    v &= (1 << 64) - 1
    for _ in range(3):
        v = (v * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        v ^= v >> 33
    return v % HASH_M31 or 1


def row_coeffs(i: int) -> tuple[int, int, int]:
    """(a_i, b_i, c_i) for CMS row i — unstructured across rows."""
    return _mix(1000 + i), _mix(2000 + i), _mix(3000 + i)


def row_hash_col(x, i: int) -> F.Column:
    """Degree-2 row hash: (a_i·x + b_i·x² + c_i) mod M31, every term
    reduced before the sum so intermediates stay < 3·2^31 (int64-safe on
    both engines).  x < FP_MOD ≈ 2^30 → x² < 2^60 before its own mod."""
    a, b, c = row_coeffs(i)
    x2 = (x * x) % F.lit(HASH_M31)
    return (
        (F.lit(a) * x) % F.lit(HASH_M31)
        + (F.lit(b) * x2) % F.lit(HASH_M31)
        + F.lit(c)
    ) % F.lit(HASH_M31)


def hll_registers(
    df: DataFrame, col: str = "token", p: int = HLL_P, strata_col: str | None = None
) -> DataFrame:
    """(stratum?, register, max_rank) — the HLL register table for the
    values of ``col``, optionally one sketch per stratum.  h =
    perm_1(poly(x)); register = h mod 2^p; rank = index of the lowest set
    bit of (h div 2^p) + 1, capped when that suffix is 0.  One groupBy
    MAX — mergeable, map-side combinable, 2^p output rows per stratum."""
    m = 1 << p
    max_rank = 32 - p  # h < 2^31 -> suffix < 2^(31-p); rank cap covers 0
    keys = [strata_col] if strata_col else []
    h = perm_col(poly_hash_col(F.col(col)), 0)
    base = df.select(
        *keys,
        (h % F.lit(m)).cast("int").alias("register"),
        # m is a power of two, h < 2^31: the double division is exact,
        # so floor(h/m) == h DIV m on every engine
        F.floor(h / F.lit(m)).cast("bigint").alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(max_rank)).otherwise(
        F.length(F.bin(F.col("w").bitwiseAND(-F.col("w"))))
    )
    return (
        base.select(*keys, "register", rank.cast("int").alias("rank"))
        .groupBy(*keys, "register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_distinct(
    df: DataFrame, col: str = "token", p: int = HLL_P
) -> DataFrame:
    """One-row raw-HLL distinct estimate:
    (m, n_zero, sum_scaled, estimate).

    sum_scaled = Σ_registers (SCALE >> max_rank), absent registers
    contributing SCALE (rank 0) — exact integers, so the double chain
    alpha·m²·SCALE/sum is one identically-parenthesized expression on
    both engines."""
    return hll_estimate(hll_registers(df, col, p), p)


def hll_estimate(
    regs: DataFrame, p: int = HLL_P, strata_col: str | None = None
) -> DataFrame:
    """The estimate step over an existing (register, max_rank) table —
    split out so MERGED register tables (cross-shard MAX, streaming
    folds) estimate through the identical arithmetic as hll_distinct.
    With ``strata_col``, one estimate row per stratum (the registers must
    have been built per stratum too)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    keys = [strata_col] if strata_col else []
    agg = regs.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_regs"),
        F.sum(F.expr(f"shiftright({HLL_SCALE}, max_rank)")).cast("bigint").alias("s_hit"),
    )
    return agg.select(
        *keys,
        F.lit(m).cast("bigint").alias("m"),
        (F.lit(m) - F.col("n_regs")).cast("bigint").alias("n_zero"),
        (F.col("s_hit") + (F.lit(m) - F.col("n_regs")) * F.lit(HLL_SCALE))
        .cast("bigint")
        .alias("sum_scaled"),
        F.floor(
            (F.lit(alpha) * F.lit(float(m * m)) * F.lit(float(HLL_SCALE)))
            / (F.col("s_hit") + (F.lit(m) - F.col("n_regs")) * F.lit(HLL_SCALE)).cast(
                "double"
            )
        )
        .cast("bigint")
        .alias("estimate"),
    )


def log2_histogram(
    df: DataFrame, col: str, strata_col: str | None = None
) -> DataFrame:
    """(stratum?, bucket, n) — power-of-two histogram of a non-negative
    integer column: bucket = bit_length(value), 0 for value ≤ 0.

    The scale substitute for exact per-stratum order statistics:
    corpus.length_profile selects exact percentiles (a per-stratum sort),
    which is the right answer when strata fit a task — this is the answer
    when they don't: one map-side-combinable groupBy, SUM-mergeable
    across shards and micro-batches like the HLL/CMS pair, with ≤ 64
    buckets per stratum no matter the corpus.  Quantiles read off the
    cumulative bucket counts with ≤ 2× value error (one bit).
    bit_length is length(bin(v)) on both engines."""
    b = (
        F.when(F.col(col) <= 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col(col).cast("bigint"))))
        .cast("int")
    )
    keys = ([strata_col] if strata_col else []) + ["bucket"]
    return (
        df.withColumn("bucket", b)
        .groupBy(*keys)
        .agg(F.count("*").cast("bigint").alias("n"))
    )


CMS_D = 4
CMS_W = 512


def cms_table(
    counts: DataFrame,
    key_col: str = "token",
    cnt_col: str = "cnt",
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """(row, bucket, total) Count-Min table from an already-reduced
    (key, cnt) frame — d·w cells, SUM-mergeable.  Feeding reduced counts
    (not raw occurrences) keeps the explode factor d·|vocab|, never
    d·|corpus|."""
    x = poly_hash_col(F.col(key_col))
    rows = [
        counts.select(
            F.lit(i).alias("row"),
            (row_hash_col(x, i) % F.lit(w)).cast("int").alias("bucket"),
            F.col(cnt_col).cast("bigint").alias("c"),
        )
        for i in range(d)
    ]
    union = rows[0]
    for r in rows[1:]:
        union = union.unionByName(r)
    return union.groupBy("row", "bucket").agg(F.sum("c").cast("bigint").alias("total"))


def cms_estimates(
    counts: DataFrame,
    key_col: str = "token",
    cnt_col: str = "cnt",
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """(key, true_cnt, est_cnt) — probe every key against the CMS built
    from the same counts.  est ≥ true always (one-sided error); the gap
    is the collision overcount bounded by 2·N/w w.h.p.  The probe is d
    equi-joins on (row, bucket) against the d·w-cell table — broadcast
    size regardless of corpus scale."""
    cms = F.broadcast(cms_table(counts, key_col, cnt_col, d, w))
    x = poly_hash_col(F.col(key_col))
    probes = None
    for i in range(d):
        p_i = counts.select(
            F.col(key_col).alias("key"),
            F.col(cnt_col).cast("bigint").alias("true_cnt"),
            F.lit(i).alias("row"),
            (row_hash_col(x, i) % F.lit(w)).cast("int").alias("bucket"),
        )
        probes = p_i if probes is None else probes.unionByName(p_i)
    return (
        probes.join(cms, ["row", "bucket"])
        .groupBy("key", "true_cnt")
        .agg(F.min("total").cast("bigint").alias("est_cnt"))
    )


def hyperball(
    edges: DataFrame,
    rounds: int = 3,
    p: int = HLL_P,
    src: str = "source",
    dst: str = "target",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013, arXiv:1308.2144): per-node
    neighborhood-size estimation — for every node, an HLL sketch of the
    set of nodes within ``rounds`` hops, computed by MAX-merging each
    node's registers with its neighbors' once per round.  This is THE
    way to get the neighborhood function / effective-diameter statistics
    on graphs too big for per-node BFS: exact ball counting is
    O(|V|·ball) state, HyperBall is 2^p ints per node, and the register
    MAX-merge is exactly set union in sketch space — so the round
    recursion ball_k(v) = {v} ∪ ⋃_{u∈N(v)} ball_{k-1}(u) holds for the
    sketches identically (pytest asserts register-set equality against
    locally-computed true balls).

    Returns hll_estimate per node: (node, m, n_zero, sum_scaled,
    estimate) with estimate ≈ |ball_rounds(node)| (raw FFGM estimator —
    same caveats as hll_distinct; exposed components allow downstream
    correction).

    Scale shape: each round is ONE equi-join of the register table
    against the symmetrized adjacency plus a max-aggregate (map-side
    combinable — registers are tiny and idempotent under MAX).  Register
    rows are ≤ 2^p per node.  localCheckpoint caps plan growth, like the
    other fixed-round kernels."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    adj = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = adj.select(F.col("a").alias("node")).distinct()
    regs = hll_registers(nodes, col="node", p=p, strata_col="node")
    for _ in range(rounds):
        step = (
            regs.alias("R")
            .join(adj.alias("E"), F.col("R.node") == F.col("E.b"))
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
            .localCheckpoint(eager=False)
        )
    return hll_estimate(regs, p=p, strata_col="node")


def kmv_kmin(
    df: DataFrame,
    hash_col: str = "x",
    k: int = 64,
    strata_col: str | None = None,
) -> DataFrame:
    """KMV (k-minimum-values) sketch (Bar-Yossef et al. 2002;
    Beyer et al. 2007): per stratum, the k smallest DISTINCT uniform hash
    values of ``hash_col`` — the sketch family that, unlike HLL, supports
    SET INTERSECTION estimates, so two crawls / shards / snapshots can be
    asked "how much do you overlap?" without a distinct-join.

    Input is an already-fingerprinted integer column (the shared
    polynomial family, < 2^30); it is re-permuted onto [0, 2^31-1) so the
    order statistics are uniform.  The k-min per stratum is a
    rank-limited window — Spark's WindowGroupLimit pre-prunes each map
    partition to its local k smallest BEFORE the shuffle (the stratum_cap
    pattern), so a stratum ships O(k·partitions) rows, never its
    population.  Returns (stratum?, h) with h ascending-distinct."""
    keys = [strata_col] if strata_col else []
    h = perm_col(F.col(hash_col) % F.lit(FP_MOD), 0)
    hs = df.select(*keys, h.cast("bigint").alias("h")).distinct()
    if not keys:
        # global k-min: orderBy().limit() plans TakeOrderedAndProject —
        # a per-partition heap + driver merge, never a global sort
        return hs.orderBy("h").limit(k)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("h")
    return (
        hs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(*keys, "h")
    )


def kmv_overlap(a_kmin: DataFrame, b_kmin: DataFrame, k: int = 64) -> DataFrame:
    """Set-overlap estimates from two KMV sketches: the k smallest values
    of A ∪ B form a uniform sample of the union; the fraction of that
    sample present in BOTH sketches estimates the Jaccard similarity, and
    jaccard × union_estimate estimates |A ∩ B| (Beyer et al. 2007).

    All inputs are the sketches (≤ k rows each) — the overlap math never
    touches the original sets.  Estimates use the unbiased
    (k-1)·M/h_k form; when a side has fewer than k values its exact
    distinct count is used.  One output row: (k, n_a, n_b, a_est, b_est,
    union_est, n_match, jaccard_micro, inter_est)."""
    m = HASH_M31
    a = a_kmin.select(F.col("h").alias("h"), F.lit(1).alias("_a"))
    b = b_kmin.select(F.col("h").alias("h"), F.lit(1).alias("_b"))
    both = (
        a.join(b, "h", "full")
        .select(
            "h",
            F.coalesce("_a", F.lit(0)).alias("in_a"),
            F.coalesce("_b", F.lit(0)).alias("in_b"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("h")  # ≤ 2k rows — bounded by construction
    sample = both.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)

    def est(n_col, hk_col):
        exact = n_col < k
        return F.when(exact, n_col.cast("double")).otherwise(
            (F.lit(float(k - 1)) * F.lit(float(m))) / hk_col.cast("double")
        )

    a_stats = a_kmin.agg(
        F.count("*").cast("bigint").alias("n_a"), F.max("h").alias("hk_a")
    )
    b_stats = b_kmin.agg(
        F.count("*").cast("bigint").alias("n_b"), F.max("h").alias("hk_b")
    )
    u_stats = sample.agg(
        F.count("*").cast("bigint").alias("n_u"),
        F.max("h").alias("hk_u"),
        F.sum((F.col("in_a") * F.col("in_b"))).cast("bigint").alias("n_match"),
    )
    out = a_stats.crossJoin(b_stats).crossJoin(u_stats)
    jac = F.col("n_match").cast("double") / F.col("n_u").cast("double")
    union_est = est(F.col("n_u"), F.col("hk_u"))
    return out.select(
        F.lit(k).cast("int").alias("k"),
        "n_a",
        "n_b",
        F.floor(est(F.col("n_a"), F.col("hk_a"))).cast("bigint").alias("a_est"),
        F.floor(est(F.col("n_b"), F.col("hk_b"))).cast("bigint").alias("b_est"),
        F.floor(union_est).cast("bigint").alias("union_est"),
        "n_match",
        F.floor(jac * 1_000_000).cast("bigint").alias("jaccard_micro"),
        F.floor(jac * union_est).cast("bigint").alias("inter_est"),
    )
