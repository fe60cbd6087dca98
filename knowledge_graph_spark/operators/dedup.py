"""Document deduplication for training-data pipelines.

Four dedup families over a ``documents(doc_id, text, ...)`` table, chosen
to cover the standard large-corpus toolbox (exact, n-gram Jaccard,
MinHash-LSH, SimHash):

- **exact**: hash-groupBy on normalized text — one shuffle on the sha256
  key, perfectly balanced (hash keys are uniform).  The canonical survivor
  is min(doc_id) — deterministic.
- **n-gram Jaccard**: token n-gram inverted index → candidate pairs share
  ≥1 n-gram → exact Jaccard from intersection/union counts.  Fully
  relational (explode + self-join + groupBy); DuckDB-oracle-checkable.
  Blocking keeps it out of O(n²): only co-blocked pairs are scored, and
  hot n-grams (df > max_ngram_df) are dropped from the index — standard
  posting-list pruning and the skew guard for the self-join.
- **MinHash-LSH**: numpy-vectorized signatures (one Arrow batch kernel),
  banded bucketing, verified with exact Jaccard — reuses the entity
  linking machinery (operators/linking.py) on document shingles.
  Probabilistic → pytest-verified recall vs the exact pairs, rows-only at
  the driver gate.
- **SimHash**: 64-bit weighted-bit signature per doc (numpy kernel),
  16-bit band blocking, Hamming-distance verification — near-dup at
  hamming ≤ k.

All pair outputs are canonical (id_a < id_b) and deduplicated.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textqc import (
    content_hash,
    normalized_text,
    rolling_fingerprint,
    ws_tokens_col,
)
from ..functions.hashing import HASH_M31, perm_ab
from ..partitioning import widen
from .linking import banded_signatures, jaccard_verify, minhash_candidate_pairs

DEFAULT_NGRAM = 5


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct normalized text: (content_hash, canonical_id,
    dup_count).  Survivor = min id."""
    return (
        docs.select(
            content_hash(F.col(text_col)).alias("content_hash"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").cast("bigint").alias("dup_count"),
        )
    )


def token_ngrams(text: F.Column, n: int = DEFAULT_NGRAM) -> F.Column:
    """Space-joined token n-grams of the normalized text (native)."""
    toks = ws_tokens_col(normalized_text(text))
    return F.when(F.size(toks) < n, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.5,
    max_ngram_df: int = 1000,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with n-gram Jaccard ≥ threshold.

    Jaccard is computed on DISTINCT n-gram sets from exact intersection
    counts — no UDF, no quadratic scan.  ``max_ngram_df`` drops stop-gram
    postings (df-pruning: a pair whose every shared n-gram is that common
    is far below any useful threshold anyway — and such postings are the
    O(n²) skew bomb at corpus scale)."""
    # the gram table feeds three consumers (sizes, df-counts, both sides
    # of the candidate join) — persist it or Spark recomputes the
    # explode+distinct subtree per consumer (MEMORY_AND_DISK: spills
    # rather than OOMs when the posting list outgrows executor memory)
    grams = widen(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(token_ngrams(F.col(text_col), n))).alias("gram"),
    ).persist()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))

    df_counts = grams.groupBy("gram").agg(F.count("*").alias("df"))
    rare = df_counts.filter(F.col("df") <= max_ngram_df).select("gram")
    posting = grams.join(rare, "gram")

    inter = (
        posting.alias("a")
        .join(posting.alias("b"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup RESOLUTION: connected components over the pair graph →
    (doc_id, canonical_id, is_duplicate).  Canonical survivor = min id in
    the cluster; docs outside any pair map to themselves.  This is the
    step that turns pair detection (exact/ngram/MinHash/SimHash) into an
    actionable keep/drop decision at corpus scale."""
    from .community import connected_components

    # zero-pad ids so lexicographic min-label == numeric min survivor
    def pad(c):
        return F.lpad(c.cast("string"), 12, "0")

    ids = docs.select(pad(F.col(id_col)).alias("title")).distinct()
    edges = pairs.select(
        pad(F.col("id_a")).alias("source"), pad(F.col("id_b")).alias("target")
    )
    comp = connected_components(ids, edges)
    return comp.select(
        F.col("title").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("canonical_id"),
        (F.col("title") != F.col("component")).alias("is_duplicate"),
    )


def minhash_doc_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dup pairs on character shingles of the normalized
    text, exact-Jaccard-verified.  Returns (id_a, id_b, jaccard) with ids
    mapped back from the blocked name space."""
    named = docs.select(
        F.col(id_col).alias("doc_id"), normalized_text(F.col(text_col)).alias("title")
    )
    pairs = minhash_candidate_pairs(
        named, name_col="title", num_perm=num_perm, bands=bands, shingle_k=shingle_k, seed=seed
    )
    verified = jaccard_verify(pairs, threshold=threshold, shingle_k=shingle_k)
    # pair canonicalization is by NAME; re-canonicalize by id (exact
    # normalized-text duplicates share one name and are exact_duplicates'
    # job, so id_a == id_b cannot occur here)
    return pairs_to_ids(verified, named)


def pairs_to_ids(name_pairs: DataFrame, named: DataFrame) -> DataFrame:
    """Map verified name-level pairs back to document ids: every id pair
    across the two name groups, canonicalized (id_a < id_b)."""
    a = named.select(F.col("title").alias("name_a"), F.col("doc_id").alias("id_a"))
    b = named.select(F.col("title").alias("name_b"), F.col("doc_id").alias("id_b"))
    return (
        name_pairs.join(a, "name_a")
        .join(b, "name_b")
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "jaccard",
        )
    )


def minhash_incremental(
    new_docs: DataFrame,
    index: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash-LSH dedup: find near-dup NAME pairs between a
    new document batch and everything already indexed, without rescanning
    the old corpus.  Returns ``(name_pairs, updated_index)``.

    This is the 100-TB dedup shape: the full-corpus pair join never
    reruns — each arriving batch computes signatures for its NEW distinct
    names only (one Arrow kernel), probes the persisted band index with a
    (band, bh) equi-join restricted to the buckets the batch touches, and
    appends its signatures to the index.  Folding batches in any order
    yields exactly the batch-mode pair set (minhash_doc_pairs) provided no
    bucket ever exceeds ``max_bucket_size`` — the cap is evaluated on the
    combined (index + batch) bucket, so a bucket that goes hot mid-stream
    stops producing pairs from that batch on, whereas batch mode would
    retroactively drop its earlier pairs too (tested equality on testdata
    where no bucket saturates).

    Pairs are name-level (``name_a < name_b``, exact-Jaccard-verified);
    map to ids over the full corpus with the same join minhash_doc_pairs
    uses once all batches are folded.  ``index=None`` starts a fresh
    index."""
    new_names = new_docs.select(
        normalized_text(F.col(text_col)).alias("title")
    ).filter(F.col("title") != "").distinct()
    if index is not None:
        # names already indexed have identical signatures — their pairs
        # were emitted when they first arrived
        new_names = new_names.join(
            index.select(F.col("name").alias("title")).distinct(), "title", "left_anti"
        )
    banded_new = banded_signatures(
        new_names, name_col="title", num_perm=num_perm, bands=bands,
        shingle_k=shingle_k, seed=seed,
    ).persist()
    combined = (
        banded_new if index is None else banded_new.unionByName(index)
    )
    # cap check on the COMBINED bucket, restricted to buckets this batch
    # touches (semi-join keeps the probe proportional to the batch, not
    # the index)
    touched = combined.join(
        banded_new.select("band", "bh").distinct(), ["band", "bh"], "left_semi"
    )
    ok = (
        touched.groupBy("band", "bh")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= max_bucket_size)
        .select("band", "bh")
    )
    new_ok = banded_new.join(ok, ["band", "bh"])
    all_ok = touched.join(ok, ["band", "bh"])
    cand = (
        new_ok.select("band", "bh", F.col("name").alias("pname"))
        .join(all_ok.select("band", "bh", F.col("name").alias("qname")), ["band", "bh"])
        .filter(F.col("pname") != F.col("qname"))
        .select(
            F.least("pname", "qname").alias("name_a"),
            F.greatest("pname", "qname").alias("name_b"),
        )
        .distinct()
    )
    verified = jaccard_verify(cand, threshold=threshold, shingle_k=shingle_k)
    return verified, combined


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_kernel(tokens_list: list[list[str]], seed: int = 0) -> list[int]:
    """64-bit SimHash per token list (pure kernel, unit-testable).

    SQL-expressible family (functions/hashing.py): per-token base hash =
    polynomial fold; bit i of the signature = sign of the sum over tokens
    of ±1, where the token's vote for bit i is the PARITY of permutation
    hash perm_i(x) — 64 independent int64-safe hashes, so a DuckDB
    oracle reproduces every signature exactly.  ``seed`` retained for API
    compatibility; coefficients are fixed by the family."""
    from ..functions.hashing import poly_hash

    a, b = perm_ab(64)
    out = []
    for toks in tokens_list:
        if not toks:
            out.append(0)
            continue
        x = np.array([poly_hash(t) for t in toks], dtype=np.int64)
        bits = (((a[None, :] * x[:, None] + b[None, :]) % HASH_M31) & 1).astype(np.int32)
        v = np.where(bits > 0, 1, -1).sum(axis=0)
        sig = int(((v > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
        out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
    return out


def with_simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", seed: int = 42
) -> DataFrame:
    @F.pandas_udf(T.LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        toks = [t.lower().split() if t else [] for t in texts]
        return pd.Series(simhash_kernel(toks, seed=seed), dtype="int64")

    return docs.select(
        F.col(id_col).alias("doc_id"), sim_udf(F.col(text_col)).alias("simhash")
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Blocking: a pair within Hamming ≤ 3 must agree exactly on ≥1 of the
    four 16-bit bands (pigeonhole) — so candidates come from four
    equi-joins, never a cross join."""
    sh = with_simhash(docs, id_col=id_col, text_col=text_col, seed=seed)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("band"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def token_windows(text: F.Column, window: int, stride: int) -> F.Column:
    """Space-joined token windows of the normalized text: positions 0,
    stride, 2·stride, … while a full ``window`` tokens remain (shorter
    tails are not emitted — a partial window is not comparable evidence)."""
    toks = ws_tokens_col(normalized_text(text))
    return F.when(F.size(toks) < window, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - window, F.lit(stride)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, window)),
        )
    )


def repeated_span_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 30,
    stride: int = 15,
) -> DataFrame:
    """Cross-document repeated-substring detection (the signal behind
    suffix-array substring dedup, Lee et al. 2022, arXiv:2107.06499 —
    approximated with strided fixed-width windows, which is the shape that
    distributes): a window instance is "repeated" when its exact token
    span occurs in ≥ 2 distinct documents.

    Returns one row per document: (doc_id, n_windows, n_repeated,
    rep_micro = floor(1e6 · n_repeated / n_windows); 0 windows → 0).
    Boilerplate headers/footers/licenses light up here long before
    whole-doc dedup fires.

    Scale shape: windows are keyed by their Rabin-Karp fingerprint
    (`rolling_fingerprint` — native fold, shared verbatim with the SQL
    oracle), so the span shuffle carries an int64 per window instead of a
    ~200-byte string.  One groupBy fingerprint for distinct-doc counts,
    one join back, one per-doc groupBy — partial aggregation applies to
    all three.  Fingerprint space is 1e9+7: collisions are noise at gate
    scale; at 100 TB stack a second modulus (same family) to push the
    collision rate below one per corpus.
    """
    spans = widen(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(token_windows(F.col(text_col), window, stride)).alias("span"),
    ).withColumn("fp", rolling_fingerprint(F.col("span")))
    spans = spans.persist()
    span_df = (
        spans.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("ddf"))
        .filter(F.col("ddf") >= 2)
        .select("fp")
    )
    out = (
        spans.join(span_df.withColumn("_rep", F.lit(1)), "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count("span").cast("bigint").alias("n_windows"),
            F.sum(F.coalesce(F.col("_rep"), F.lit(0))).cast("bigint").alias("n_repeated"),
        )
    )
    frac = F.when(F.col("n_windows") == 0, F.lit(0.0)).otherwise(
        F.col("n_repeated").cast("double") * 1_000_000 / F.col("n_windows").cast("double")
    )
    return out.select(
        "doc_id",
        "n_windows",
        "n_repeated",
        F.floor(frac).cast("bigint").alias("rep_micro"),
    )
