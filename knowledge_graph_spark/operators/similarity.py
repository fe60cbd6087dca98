"""Similarity search over an embedding column (array<float>).

Three operators over ``embeddings(vec_id, embedding, label)``:

- **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the corpus, dot product via native
  ``F.zip_with`` + ``F.aggregate`` (JVM-side, sequential fold → bit-stable
  across engines), per-query top-k via a window over (sim desc, id).
  Scale shape: corpus-partition-parallel scan, no corpus shuffle; the
  only shuffle is the per-query top-k (tiny: k × |queries| rows after
  partial aggregation).
- **IVF-style bucketed ANN** — the scale path: a coarse quantizer
  (sign bits of the first ``ivf_bits`` dimensions → 2^bits cells, a
  deterministic stand-in for trained k-means centroids) assigns every
  vector to a cell; queries probe only their own cell.  Deterministic and
  closed-form → fully SQL-expressible for the oracle.  At 100 TB this is
  the pattern that matters: cell assignment is a narrow map, the probe is
  an equi-join on cell id instead of a cross join.
- **near-dup pairs** — all pairs with cosine ≥ τ: exact variant
  (self-join, oracle-checkable) and an LSH variant (random-hyperplane
  signatures, bucket-join) for corpus-scale near-dup sweeps.

Similarities are truncated to 6 decimals (floor) on BOTH engines so the
value-hash comparison is immune to last-ulp float-sum drift.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SIM_SCALE = 1_000_000  # floor(sim * SIM_SCALE) — shared with the SQL oracle


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim(a: F.Column, b: F.Column) -> F.Column:
    """Cosine similarity of two double arrays, sequential-fold order."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(df: DataFrame, col: str) -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


def _with_unit(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Adds an L2-normalized copy of the vector.  Normalizing ONCE per
    vector (narrow map) instead of per pair turns the per-pair work into a
    bare dot product — O(n·d) instead of O(n²·d) norm recomputation.  The
    norm is materialized as its own column first so the divide does not
    re-evaluate the aggregate per element; the SQL oracle normalizes in
    the same element order, so parity stays exact."""
    return (
        df.withColumn("__norm", _norm(F.col(vec_col)))
        .withColumn(out_col, F.transform(F.col(vec_col), lambda x: x / F.col("__norm")))
        .drop("__norm")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, sim_micro,
    rk).  Ties broken by neighbor id ascending; self-matches excluded."""
    c = _with_unit(_as_double(corpus, vec_col), vec_col, "u").select(
        F.col(id_col).alias("neighbor_id"), F.col("u").alias("cvec")
    )
    q = _with_unit(_as_double(queries, vec_col), vec_col, "u").select(
        F.col(id_col).alias("query_id"), F.col("u").alias("qvec")
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.floor(_dot(F.col("qvec"), F.col("cvec")) * SIM_SCALE)
        .cast("bigint")
        .alias("sim_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_micro"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def ivf_cell(vec: F.Column, bits: int = 8) -> F.Column:
    """Coarse-quantizer cell id: bit i set iff dimension i > 0.  Unrolled
    sum of literal powers of two (codegen-friendly, no UDF)."""
    cell = F.lit(0).cast("bigint")
    for i in range(bits):
        cell = cell + F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i)).otherwise(0).cast(
            "bigint"
        )
    return cell


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-bucketed ANN: probe only the query's own cell.  Same output
    shape as cosine_topk (plus the cell id); recall < 1 by construction —
    the exactness/throughput trade the caller opts into."""
    c = _with_unit(_as_double(corpus, vec_col), vec_col, "u").select(
        F.col(id_col).alias("neighbor_id"),
        F.col("u").alias("cvec"),
        ivf_cell(F.col(vec_col), bits).alias("cell"),
    )
    q = _with_unit(_as_double(queries, vec_col), vec_col, "u").select(
        F.col(id_col).alias("query_id"),
        F.col("u").alias("qvec"),
        ivf_cell(F.col(vec_col), bits).alias("cell"),
    )
    scored = c.join(F.broadcast(q), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        "cell",
        F.floor(_dot(F.col("qvec"), F.col("cvec")) * SIM_SCALE)
        .cast("bigint")
        .alias("sim_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_micro"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("int")).filter(F.col("rk") <= k)


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-dup pairs (id_a < id_b, cosine ≥ threshold).  O(n²) —
    the correctness baseline; use the LSH variant at corpus scale."""
    c = _with_unit(_as_double(corpus, vec_col), vec_col, "u")
    a = c.select(F.col(id_col).alias("id_a"), F.col("u").alias("va"))
    b = c.select(F.col(id_col).alias("id_b"), F.col("u").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.floor(_dot(F.col("va"), F.col("vb")) * SIM_SCALE)
            .cast("bigint")
            .alias("sim_micro"),
        )
        .filter(F.col("sim_micro") >= int(threshold * SIM_SCALE))
    )


# ---------------------------------------------------------------------------
# Numpy fast paths — the 100 TB execution shape: distributed block-matmul.
#
# No driver collect anywhere: rows are hashed to fixed-size blocks, each
# (block_i, block_j) cell of the pair grid is shuffled to ONE task via a
# cogrouped applyInPandas, and the task runs a single BLAS sgemm over the
# two blocks.  Executor memory per task is bounded by 2×rows_per_block
# vectors regardless of corpus size; the O(n²) flops (inherent to exact
# all-pairs) are spread across B(B+1)/2 independent tasks.
# ---------------------------------------------------------------------------


def _num_blocks(df: DataFrame, rows_per_block: int, fill_cluster: bool = False) -> int:
    """Block count from the corpus cardinality.  The count is one narrow
    scan of the id column; on a real deployment this comes free from table
    metadata (Iceberg snapshot row count).

    ``fill_cluster``: raise B so the B(B+1)/2 pair-grid cells cover the
    cluster's task slots even on small corpora — otherwise a 2-block
    corpus yields a 3-task stage that idles the rest of the executors."""
    n = df.count()
    b = max(1, -(-n // rows_per_block))
    if fill_cluster:
        par = df.sparkSession.sparkContext.defaultParallelism
        b_fill = int((2 * par) ** 0.5) + 1
        b = max(b, min(b_fill, n))  # never more blocks than rows
    return b


def _to_matrix(pdf, vec_col: str):
    m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
    # zero-norm guard: eps floor instead of silent NaN rows
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    return m


def neardup_pairs_fast(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 4096,
) -> DataFrame:
    """Near-dup pairs via distributed blocked BLAS.

    Plan shape: hash rows to B blocks; explode each row to the block-pair
    grid cells it participates in (row in block b → left side of cells
    (b, j≥b), right side of cells (i≤b, b)); cogroup on (bi, bj); one
    sgemm per cell inside applyInPandas.  Replication factor is ~B per
    side — the unavoidable data-movement cost of exact all-pairs, but
    every task is bounded-memory and the grid parallelizes across the
    cluster.  At corpus scale prefer lsh_neardup_pairs (candidate
    generation) and use this on the candidate-restricted corpus.

    Sum order is BLAS pairwise, so use the exact fold variant when
    bit-parity with a sequential oracle matters."""
    B = _num_blocks(corpus, rows_per_block, fill_cluster=True)
    tau = threshold
    c = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(B)).cast("int"))
    left = c.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("bj"),
        "vid",
        "vec",
    )
    # right-side columns get DISTINCT names: with identical attribute
    # lineage on both cogroup sides, Spark's attribute dedup prunes the
    # right group frame down to the grouping key (observed on 4.1)
    right = c.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.col("vid").alias("vid_r"),
        F.col("vec").alias("vec_r"),
    )

    def cell(key, lpdf, rpdf):
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim_micro": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim_micro": "int64"}
            )
        lm, rm = _to_matrix(lpdf, "vec"), _to_matrix(rpdf, "vec_r")
        lid, rid = lpdf["vid"].to_numpy(), rpdf["vid_r"].to_numpy()
        sims = lm @ rm.T
        ii, jj = np.nonzero(sims >= tau)
        a, b = lid[ii], rid[jj]
        if key[0] == key[1]:
            # diagonal cell: every pair appears in BOTH orientations —
            # a<b both dedups and orients
            keep = a < b
            a, b, s = a[keep], b[keep], sims[ii, jj][keep]
        else:
            # off-diagonal: each cross-block pair appears exactly once,
            # in arbitrary id order — orient, never filter (filtering
            # here silently dropped pairs whose id order opposed the
            # block order)
            s = sims[ii, jj]
            a, b = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {
                "id_a": a.astype("int64"),
                "id_b": b.astype("int64"),
                "sim_micro": np.floor(s * SIM_SCALE).astype("int64"),
            }
        )

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(cell, schema="id_a bigint, id_b bigint, sim_micro bigint")
    )


def hyperplane_sig_bit(vec: F.Column, dim: int, n_planes: int, j: int) -> F.Column:
    """Bit j of the Rademacher-hyperplane signature: sign of the
    SEQUENTIAL fold of sum_d vec[d] * s(d, j) with s ∈ {±1} derived from
    the deterministic hash family (functions/hashing.py) — no RNG, no
    BLAS sum-order ambiguity, so a SQL oracle evaluating the same fold
    gets the identical bit even when the projection is near zero."""
    from ..functions.hashing import sign_plane

    plane = F.array(*[F.lit(float(sign_plane(d, j, n_planes))) for d in range(dim)])
    proj = F.aggregate(
        F.zip_with(vec, plane, lambda x, s: x * s), F.lit(0.0), lambda acc, v: acc + v
    )
    return (proj > 0).cast("int")


def lsh_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH near-dup: candidates share one band of the
    signature; exact cosine verifies.  Signature bits come from native
    sequential folds of deterministic ±1 planes, so the whole operator —
    blocking included — is SQL-expressible and hash-checked against the
    DuckDB oracle (``seed`` retained for API compatibility)."""
    rows_per_band = n_planes // bands
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("vec")
    )
    band_keys = [
        sum(
            (
                hyperplane_sig_bit(F.col("vec"), dim, n_planes, b * rows_per_band + r)
                * F.lit(1 << r)
                for r in range(rows_per_band)
            ),
            start=F.lit(0),
        )
        for b in range(bands)
    ]
    banded = c.select(
        "doc_id",
        "vec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("band"),
                        band_keys[i].cast("int").alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "vec", "bb.band", "bb.key")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.vec").alias("va"),
            F.col("b.vec").alias("vb"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.floor(cosine_sim(F.col("va"), F.col("vb")) * SIM_SCALE).cast("bigint").alias("sim_micro"),
    ).filter(F.col("sim_micro") >= int(threshold * SIM_SCALE))


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.8,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into coarse clusters,
    then prune documents whose cosine similarity to a LOWER-ID member of
    the same cluster exceeds ``threshold``.

    Clustering here is the deterministic sign-bit coarse quantizer
    (`ivf_cell`) rather than k-means — same blocking role, zero training
    state, and the SQL oracle reproduces it exactly.  Pair scan is a
    WITHIN-CELL self equi-join: each cell's pair block is independent, so
    the O(n²) term is bounded per cell, never global.  (At 100 TB raise
    ``bits`` so cells stay small; skewed cells show up in the Spark UI as
    stragglers and are the signal to add bits — same knob as IVF.)

    Output: (vec_id, cell, canonical_id, is_pruned) — one row per corpus
    vector; pruned rows point at their smallest same-cell near-duplicate,
    keepers at themselves.
    """
    c = _with_unit(_as_double(corpus, vec_col), vec_col, "u").select(
        F.col(id_col).alias("vec_id"),
        ivf_cell(F.col(vec_col), bits).alias("cell"),
        F.col("u"),
    )
    a = c.select(F.col("vec_id").alias("id_a"), F.col("cell"), F.col("u").alias("va"))
    b = c.select(F.col("vec_id").alias("id_b"), F.col("cell"), F.col("u").alias("vb"))
    pairs = (
        a.join(b, ["cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cell",
            "id_a",
            "id_b",
            F.floor(_dot(F.col("va"), F.col("vb")) * SIM_SCALE)
            .cast("bigint")
            .alias("sim_micro"),
        )
        .filter(F.col("sim_micro") >= int(threshold * SIM_SCALE))
    )
    nearest = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        c.select("vec_id", "cell")
        .join(nearest, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("dup_of", "vec_id").alias("canonical_id"),
            F.col("dup_of").isNotNull().alias("is_pruned"),
        )
    )


def semantic_dedup_kmeans(
    corpus: DataFrame,
    threshold: float = 0.8,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with the paper's actual blocking: k-means clusters
    (Abbas et al. 2023 §3 cluster the corpus with k-means before the
    within-cluster cosine prune; `semantic_dedup` above substitutes the
    sign-bit quantizer).  Clustering is the integer-exact fixed-round
    Lloyd of ``operators/kmeans.py``, so the full composition — train,
    assign, prune — still has a bit-exact unrolled SQL oracle.

    Same pair-scan shape as `semantic_dedup`: within-cluster self
    equi-join, O(n²) bounded per cluster.  At 100 TB ``k`` scales with
    the corpus (k ≈ n/⟨cluster size⟩); the per-round cost stays one
    broadcast join + two map-side-collapsed shuffles.

    Output: (vec_id, cluster, canonical_id, is_pruned).
    """
    from .kmeans import kmeans_assignments

    cells = kmeans_assignments(
        corpus, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col
    ).select("vec_id", "cluster")
    c = (
        _with_unit(_as_double(corpus, vec_col), vec_col, "u")
        .select(F.col(id_col).alias("vec_id"), F.col("u"))
        .join(cells, "vec_id")
    )
    a = c.select(F.col("vec_id").alias("id_a"), "cluster", F.col("u").alias("va"))
    b = c.select(F.col("vec_id").alias("id_b"), "cluster", F.col("u").alias("vb"))
    pairs = (
        a.join(b, ["cluster"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.floor(_dot(F.col("va"), F.col("vb")) * SIM_SCALE)
            .cast("bigint")
            .alias("sim_micro"),
        )
        .filter(F.col("sim_micro") >= int(threshold * SIM_SCALE))
    )
    nearest = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        c.select("vec_id", "cluster")
        .join(nearest, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("dup_of", "vec_id").alias("canonical_id"),
            F.col("dup_of").isNotNull().alias("is_pruned"),
        )
    )


def contrastive_pairs(
    corpus: DataFrame,
    pos_threshold: float = 0.35,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mine (anchor, positive, hard negative) training triples for
    contrastive embedding training (the SimCLR/DPR data-prep step): for
    every vector, the most similar SAME-CELL neighbor at or above
    ``pos_threshold`` is its positive, and the most similar same-cell
    neighbor strictly below it is its HARD negative (near misses teach
    the margin; random negatives are too easy).  Anchors lacking either
    side emit nothing — a triple needs both.

    Determinism: per anchor both picks use the tie-free order
    (sim DESC, id ASC) via a partitioned row_number — one window keyed
    by anchor, never global.

    Scale shape: candidate generation is the same within-cell self
    equi-join as semantic_dedup (coarse sign-bit cells bound the O(n²)
    term per cell; raise ``bits`` at larger corpora).  Returns
    (anchor_id, pos_id, pos_sim_micro, neg_id, neg_sim_micro).
    """
    from pyspark.sql import Window

    c = _with_unit(_as_double(corpus, vec_col), vec_col, "u").select(
        F.col(id_col).alias("vec_id"),
        ivf_cell(F.col(vec_col), bits).alias("cell"),
        F.col("u"),
    )
    a = c.select(F.col("vec_id").alias("id_a"), "cell", F.col("u").alias("va"))
    b = c.select(F.col("vec_id").alias("id_b"), "cell", F.col("u").alias("vb"))
    # half feeds both union directions, each of which feeds both the
    # positive and negative picks — persist so the within-cell pair join
    # runs once, not four times (the ngram_dedup multi-consumer pattern)
    half = (
        a.join(b, ["cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.floor(_dot(F.col("va"), F.col("vb")) * SIM_SCALE)
            .cast("bigint")
            .alias("sim_micro"),
        )
        .persist()
    )
    sym = half.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("other_id"),
        "sim_micro",
    ).unionByName(
        half.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("other_id"),
            "sim_micro",
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("sim_micro"), F.asc("other_id")
    )
    tau = int(pos_threshold * SIM_SCALE)

    def best(df, lo_ok):
        filtered = df.filter(
            F.col("sim_micro") >= tau if lo_ok else F.col("sim_micro") < tau
        )
        return (
            filtered.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    pos = best(sym, True).select(
        "anchor_id",
        F.col("other_id").alias("pos_id"),
        F.col("sim_micro").alias("pos_sim_micro"),
    )
    neg = best(sym, False).select(
        "anchor_id",
        F.col("other_id").alias("neg_id"),
        F.col("sim_micro").alias("neg_sim_micro"),
    )
    return pos.join(neg, "anchor_id")
