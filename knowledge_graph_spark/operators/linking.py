"""Entity linking and canonicalization.

North-star operators (BASELINE.json): entity-link scoring against a
broadcast alias dictionary, MinHash-LSH blocking for candidate pairs, and
canonicalization via connected components over the candidate-pair
similarity graph.  Reference analogue: the claims stage substitutes
resolved entity names from a dict (reference
graph/claims/graph_claims.py:123-137) — generalized here to the node table.

Scale design:
- the alias dictionary is small (≤ millions of rows) → explicit
  ``F.broadcast`` map-side join; no shuffle of the big side.
- MinHash signatures are computed in ONE Arrow-vectorized pandas UDF
  (numpy matrix of permutation hashes per batch); banding turns the
  quadratic candidate problem into an equi-join on (band_idx, band_hash).
- hot buckets (stop-word-like name fragments) are capped at
  ``max_bucket_size`` — standard LSH practice and the skew guard here.
- exact Jaccard verification runs only on blocked candidates.
- canonical ids come from min-label connected components over verified
  pairs (operators/community.connected_components), then nodes/edges are
  re-keyed and re-aggregated with the same merge semantics as parse.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import HASH_M31, perm_ab, poly_hash, poly_hash_kgrams
from .community import connected_components


def link_aliases(
    df: DataFrame,
    alias_dict: DataFrame,
    name_col: str = "title",
    min_score: float = 0.0,
) -> DataFrame:
    """Broadcast alias→canonical substitution with link scoring.

    Adds ``canonical_name`` (falls back to the original name) and
    ``link_score`` (1.0 for exact/self matches).  The dictionary side is
    always broadcast — the big side never shuffles.
    """
    d = (
        alias_dict.filter(F.col("score") >= min_score)
        .select(
            F.upper(F.col("alias")).alias("__alias"),
            F.col("canonical_name").alias("__canon"),
            F.col("score").alias("__score"),
        )
    )
    return (
        df.join(F.broadcast(d), F.upper(F.col(name_col)) == F.col("__alias"), "left")
        .withColumn("canonical_name", F.coalesce("__canon", F.col(name_col)))
        .withColumn(
            "link_score", F.coalesce("__score", F.lit(1.0)).cast("double")
        )
        .drop("__alias", "__canon", "__score")
    )


def _shingles(name: str, k: int) -> set[str]:
    s = re.sub(r"\s+", " ", name.strip().upper())
    if len(s) <= k:
        return {s} if s else set()
    return {s[i : i + k] for i in range(len(s) - k + 1)}


def make_minhash_udf(num_perm: int, k: int, seed: int = 0):
    """Signature UDF on the SQL-expressible hash family
    (functions/hashing.py): base hash = polynomial fold of each shingle,
    permutations = (a_i*x + b_i) mod 2^31-1 with derived coefficients —
    so a DuckDB oracle can recompute every signature bit-for-bit.  The
    ``seed`` parameter is retained for API compatibility; coefficients
    are fixed by the family."""
    a, b = perm_ab(num_perm)

    def sig(name: str) -> list[int]:
        s = re.sub(r"\s+", " ", (name or "").strip().upper())
        if not s:
            return [0] * num_perm
        if len(s) <= k:
            x = np.array([poly_hash(s)], dtype=np.int64)
        else:
            # all k-gram hashes in one vectorized sliding-window pass;
            # min over the unique-hash set == min over the shingle set
            x = np.unique(poly_hash_kgrams(s, k))
        # permutation hashes via (a*x + b) mod M31, min over shingles;
        # a < 2^31, x < 2^30 → products < 2^61, no int64 overflow
        m = (a[None, :] * x[:, None] + b[None, :]) % HASH_M31
        return m.min(axis=0).astype(np.int64).tolist()

    @F.pandas_udf("array<long>")
    def minhash_udf(names: pd.Series) -> pd.Series:
        return names.map(sig)

    return minhash_udf


def banded_signatures(
    names: DataFrame,
    name_col: str = "title",
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(name, band, bh): one row per (distinct name, LSH band).  ``bh`` is
    a 64-bit key of the signature slice — bucket identity == slice
    equality (collision odds ~2^-64 per pair), so a SQL oracle grouping by
    the literal slice forms the same buckets.  This banded table IS the
    persistable dedup index: incremental dedup (dedup.minhash_incremental)
    probes new batches against it with one (band, bh) equi-join."""
    rows_per_band = num_perm // bands
    sig = make_minhash_udf(num_perm, shingle_k, seed)
    n = names.select(F.col(name_col).alias("name")).distinct()
    signed = n.select("name", sig("name").alias("sig"))
    return signed.select(
        "name",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.slice("sig", i * rows_per_band + 1, rows_per_band).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select(
        "name",
        F.col("bb.band").alias("band"),
        F.xxhash64(F.concat_ws(",", F.col("bb.bh"))).alias("bh"),
    )


def minhash_candidate_pairs(
    names: DataFrame,
    name_col: str = "title",
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
    max_bucket_size: int = 50,
) -> DataFrame:
    """Distinct candidate pairs (name_a < name_b) sharing an LSH band.

    rows-per-band = num_perm / bands; a pair collides in a band iff that
    slice of the signature matches exactly.  Buckets larger than
    ``max_bucket_size`` are dropped (hot-fragment skew guard — they
    produce O(n²) junk pairs and correspond to near-stopword shingle
    patterns)."""
    banded = banded_signatures(
        names, name_col=name_col, num_perm=num_perm, bands=bands,
        shingle_k=shingle_k, seed=seed,
    )

    # cap hot buckets before the self-join
    sizes = banded.groupBy("band", "bh").agg(F.count("*").alias("n"))
    ok = sizes.filter(F.col("n") <= max_bucket_size).select("band", "bh")
    capped = banded.join(ok, ["band", "bh"])

    left = capped.select("band", "bh", F.col("name").alias("name_a"))
    right = capped.select("band", "bh", F.col("name").alias("name_b"))
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, threshold: float = 0.5, shingle_k: int = 3
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps pairs >= threshold."""

    @F.pandas_udf("double")
    def jac(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            sa, sb = _shingles(x or "", shingle_k), _shingles(y or "", shingle_k)
            u = len(sa | sb)
            out.append(len(sa & sb) / u if u else 0.0)
        return pd.Series(out)

    return pairs.withColumn("jaccard", jac("name_a", "name_b")).filter(
        F.col("jaccard") >= threshold
    )


def canonical_map(
    names: DataFrame,
    similar_pairs: DataFrame,
    alias_dict: DataFrame | None = None,
    name_col: str = "title",
) -> DataFrame:
    """(title, canonical) map: alias-dictionary links + similarity pairs
    feed one CC; canonical = min member of each cluster.

    The alias dictionary contributes (alias → canonical_name) edges so
    dictionary knowledge and string similarity canonicalize together."""
    n = names.select(F.col(name_col).alias("title")).distinct()
    e = similar_pairs.select(
        F.col("name_a").alias("source"), F.col("name_b").alias("target")
    )
    if alias_dict is not None:
        e = e.unionByName(
            alias_dict.select(
                F.upper("alias").alias("source"),
                F.upper("canonical_name").alias("target"),
            )
        )
    # CC runs over every name appearing in a similarity/alias edge —
    # including dictionary canonical forms that are not themselves node
    # titles, so two aliases of the same canonical name merge THROUGH it
    # (EVT_CLICK—INTERACTION—EVT_VIEW → one cluster).  Isolated titles
    # never enter the iteration; the output is restricted to real titles.
    touched = (
        e.select(F.col("source").alias("title"))
        .unionByName(e.select(F.col("target").alias("title")))
        .distinct()
    )
    comp = connected_components(touched, e, node_col="title")
    return (
        n.join(comp, "title", "left")
        .select(
            "title",
            F.coalesce("component", "title").alias("canonical"),
        )
    )


def apply_canonicalization(
    nodes: DataFrame, edges: DataFrame, mapping: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Re-key nodes/edges by canonical name and re-merge with the same
    semantics as parse (descriptions set-union sorted, source ids unioned,
    weights summed, canonical (least,greatest) pairs).

    Type rule mirrors the extraction merge's "last non-empty wins"
    (reference graph_extractor.py:228-230): the winning type comes from
    the member node whose provenance extends latest in record order —
    argmax of (last source id, type) over non-empty types.  source_id is
    sorted, so element_at(-1) is each node's latest chunk.  (If the
    merge capped provenance via max_source_ids, "latest" means the
    latest SURVIVING id — the cap keeps the sorted prefix — which stays
    deterministic; the uncapped gates match the oracle exactly.)"""
    m = mapping.select("title", "canonical")
    cn = (
        nodes.join(m, "title", "left")
        .withColumn("canonical", F.coalesce("canonical", "title"))
        .groupBy(F.col("canonical").alias("title"))
        .agg(
            F.max(
                F.when(
                    F.col("type") != "",
                    F.struct(F.element_at("source_id", -1).alias("o"), "type"),
                )
            ).alias("_t"),
            F.concat_ws(
                "\n",
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(F.split("description", "\n"))))
                ),
            ).alias("description"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("source_id")))).alias(
                "source_id"
            ),
        )
        .select(
            "title",
            F.coalesce(F.col("_t.type"), F.lit("")).alias("type"),
            "description",
            "source_id",
        )
    )
    ms = m.select(F.col("title").alias("source"), F.col("canonical").alias("cs"))
    mt = m.select(F.col("title").alias("target"), F.col("canonical").alias("ct"))
    ce = (
        edges.join(ms, "source", "left")
        .join(mt, "target", "left")
        .withColumn("cs", F.coalesce("cs", "source"))
        .withColumn("ct", F.coalesce("ct", "target"))
        .filter(F.col("cs") != F.col("ct"))  # intra-cluster edges collapse away
        .groupBy(
            F.least("cs", "ct").alias("source"), F.greatest("cs", "ct").alias("target")
        )
        .agg(
            F.sum("weight").alias("weight"),
            F.concat_ws(
                "\n",
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(F.split("description", "\n"))))
                ),
            ).alias("description"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("text_unit_ids")))).alias(
                "text_unit_ids"
            ),
        )
    )
    return cn, ce
