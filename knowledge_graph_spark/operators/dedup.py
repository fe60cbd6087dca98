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
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textqc import (
    FP_MOD,
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


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document sketch (Schleimer, Wilkerson, Aiken 2003 — the
    MOSS local fingerprinting scheme) → (doc_id, pos, fp): the selected
    k-gram fingerprints with their token positions.

    Per document: fingerprint every token k-gram with the shared
    Rabin-Karp fold, then slide a window of ``w`` consecutive
    fingerprints and select each window's MINIMUM (rightmost on ties —
    the paper's rule), deduplicating repeat selections.  Guarantee: any
    shared token run of length ≥ w + k − 1 contributes at least one
    common selected fingerprint, so the sketch is a locality-preserving
    ~1/w-rate sample of the gram stream — the standard index for
    plagiarism / near-dup candidate generation at a fraction of the
    full-gram index cost.  Documents with fewer than ``w`` k-grams get
    one window covering what exists; documents shorter than ``k`` tokens
    emit nothing.

    Scale shape: selection is entirely ROW-LOCAL native Column algebra
    (transform + aggregate over per-doc arrays — no shuffle, stays in
    codegen); the output is the sketch table itself, ~n_grams/w rows per
    doc, which downstream candidate joins treat exactly like the n-gram
    inverted index but w× smaller.
    """
    toks = ws_tokens_col(normalized_text(F.col(text_col)))
    grams = F.when(F.size(toks) < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )
    fps = F.transform(grams, lambda g, i: F.struct(
        i.cast("bigint").alias("pos"),
        rolling_fingerprint(g).alias("fp"),
    ))
    base = widen(docs).select(F.col(id_col).alias("doc_id"), fps.alias("fps"))
    m = F.size("fps")
    # window starts: 0 .. m-w (one window when 0 < m < w)
    starts = F.when(m == 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), F.greatest(m - w, F.lit(0)))
    )
    sentinel = F.struct(
        F.lit(-1).cast("bigint").alias("pos"), F.lit(FP_MOD).cast("long").alias("fp")
    )
    sel = F.transform(
        starts,
        lambda j: F.aggregate(
            F.slice(F.col("fps"), j + 1, w),
            sentinel,
            lambda acc, x: F.when(
                (x["fp"] < acc["fp"]) | ((x["fp"] == acc["fp"]) & (x["pos"] > acc["pos"])),
                x,
            ).otherwise(acc),
        ),
    )
    # array_distinct already collapses repeat selections within the doc
    # and ``id_col`` is a key, so the rows are globally distinct with NO
    # shuffle — the sketch never leaves the scan stage.
    return base.select(
        "doc_id", F.explode(F.array_distinct(sel)).alias("s")
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))


def winnow_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    threshold: float = 0.5,
    max_fp_df: int = 1000,
) -> DataFrame:
    """(id_a, id_b, jaccard) near-dup candidates from the winnowing
    sketch — the MOSS pipeline's matching stage.

    Identical candidate-join shape to `ngram_jaccard_pairs`, but the
    posting list is the winnowed fingerprint sample instead of the full
    distinct-gram set: ~w× fewer postings, so the self-join (the O(n²)
    pressure point at corpus scale) shrinks quadratically in the overlap
    regions while the winnowing guarantee keeps every shared run of
    ≥ w + k − 1 tokens discoverable.  Jaccard here is sketch-set
    resemblance (selected-fp sets), a biased-but-monotone estimate of
    gram Jaccard — standard for candidate GENERATION; verify with the
    exact op if exactness matters.  ``max_fp_df`` df-prunes boilerplate
    fingerprints exactly like the stop-gram cap.
    """
    sketch = (
        winnow_fingerprints(docs, id_col=id_col, text_col=text_col, k=k, w=w)
        .select("doc_id", "fp")
        .distinct()
        .persist()
    )
    sizes = sketch.groupBy("doc_id").agg(F.count("*").alias("n_fps"))
    rare = (
        sketch.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_fp_df)
        .select("fp")
    )
    posting = sketch.join(rare, "fp")
    inter = (
        posting.alias("a")
        .join(posting.alias("b"), "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fps").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fps").alias("nb"))
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


def char_shingle_table(
    names: DataFrame, name_col: str = "title", k: int = 9
) -> DataFrame:
    """(name, g): the DISTINCT character k-shingles of each name under
    MinHash normalization (upper + whitespace collapse; a string shorter
    than k is its own single shingle) — the exact-set twin of the hashed
    shingles inside make_minhash_udf, generated natively (transform over
    a sequence, whole-stage codegen; no Python)."""
    s = F.regexp_replace(F.upper(F.trim(F.col(name_col))), r"\s+", " ")
    arr = F.when(F.length(s) <= k, F.array(s)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - k + 1),
            lambda i: s.substr(i, F.lit(k)),
        )
    )
    return (
        names.select(F.col(name_col).alias("name"), F.explode(F.array_distinct(arr)).alias("g"))
        .filter(F.col("g") != "")
        .distinct()
    )


def blocking_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int = 50,
    sample_mod: int | None = None,
) -> DataFrame:
    """ER blocking-quality audit of the MinHash-LSH blocker (Christen
    2012's three standard blocking metrics) → ONE row:

      (n_names, n_total_pairs, n_cand, n_truth, n_hit,
       reduction_ratio, pairs_completeness, pairs_quality)

    Ground truth = ALL name pairs with exact shingle-set Jaccard >=
    threshold (inverted-index join over the distinct-shingle table — the
    exact quadratic baseline, no df pruning, no banding).  Candidates =
    the production blocker's PRE-verification output
    (linking.minhash_candidate_pairs with the hot-bucket cap, i.e. the
    pairs the verify stage would actually score).  Then
      reduction_ratio    = 1 - n_cand / C(n,2)   (work saved by blocking)
      pairs_completeness = n_hit / n_truth        (recall of true pairs)
      pairs_quality      = n_hit / n_cand         (precision of candidates)

    This audits the north-rule canonicalization stage itself: banding
    parameters (num_perm, bands) trade completeness against reduction,
    and this op measures where the deployed configuration actually sits
    on that curve.  The exact side is O(sum of squared posting lists) —
    the dominant gate cost at sf0.1 (651 s: it is the deliberately
    unpruned quadratic baseline).  ``sample_mod=k`` is the corpus-scale
    path: keep the deterministic 1/k of names with
    pmod(rolling_fingerprint(title), k) == 0 — the shared cross-engine
    hash family, so the SQL oracle applies the identical filter — and
    audit the blocker on that subcorpus — the three metrics are ratio estimates, stable under
    uniform name sampling (both truth and candidate pair sets restrict
    to the SAME sampled name universe, so numerators and denominators
    shrink together).  ``sample_mod=None``/1 is exact and is what the
    gate checks; the candidate side is the production blocker and
    scales as it does.

    All five counts are exact bigints; the three ratios are single IEEE
    divisions of those counts, so a SQL oracle reproduces every column
    bit-for-bit.  Zero denominators yield NULL (nullif), never a crash.
    """
    named = (
        docs.select(normalized_text(F.col(text_col)).alias("title"))
        .filter(F.col("title") != "")
        .distinct()
    )
    if sample_mod is not None and sample_mod > 1:
        # shared cross-engine rolling-hash family (not xxhash64), so the
        # SQL oracle can apply the IDENTICAL deterministic subuniverse
        named = named.filter(
            F.pmod(rolling_fingerprint(F.col("title")), F.lit(sample_mod)) == 0
        )
    named = named.persist()
    # every multi-consumer frame is persisted: the metric row fans out
    # into four 1-row aggregates, and without the persists each count
    # re-runs the signature UDF / shingle explode from the text scan
    cand = minhash_candidate_pairs(
        named,
        name_col="title",
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
        seed=seed,
        max_bucket_size=max_bucket_size,
    ).persist()
    sh = char_shingle_table(named, name_col="title", k=shingle_k).persist()
    sizes = sh.groupBy("name").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.select(F.col("name").alias("name_a"), "g")
        .join(sh.select(F.col("name").alias("name_b"), "g"), "g")
        .filter(F.col("name_a") < F.col("name_b"))
        .groupBy("name_a", "name_b")
        .agg(F.count("*").alias("inter"))
    )
    truth = (
        inter.join(
            sizes.select(F.col("name").alias("name_a"), F.col("n_sh").alias("na")),
            "name_a",
        )
        .join(
            sizes.select(F.col("name").alias("name_b"), F.col("n_sh").alias("nb")),
            "name_b",
        )
        .filter(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            >= F.lit(threshold)
        )
        .select("name_a", "name_b")
        .persist()
    )
    hit = truth.join(cand, ["name_a", "name_b"], "left_semi")
    c_names = named.agg(F.count("*").cast("bigint").alias("n_names"))
    c_cand = cand.agg(F.count("*").cast("bigint").alias("n_cand"))
    c_truth = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    c_hit = hit.agg(F.count("*").cast("bigint").alias("n_hit"))
    return (
        c_names.crossJoin(c_cand)
        .crossJoin(c_truth)
        .crossJoin(c_hit)
        .select(
            "n_names",
            (F.col("n_names") * (F.col("n_names") - 1) / 2)
            .cast("bigint")
            .alias("n_total_pairs"),
            "n_cand",
            "n_truth",
            "n_hit",
            (
                F.lit(1.0)
                - F.col("n_cand").cast("double")
                / F.nullif(
                    (F.col("n_names") * (F.col("n_names") - 1) / 2).cast("double"),
                    F.lit(0.0),
                )
            ).alias("reduction_ratio"),
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_truth").cast("double"), F.lit(0.0))
            ).alias("pairs_completeness"),
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_cand").cast("double"), F.lit(0.0))
            ).alias("pairs_quality"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_micro: int = 500_000,
    max_df: int = 1000,
    n: int = 1,
) -> DataFrame:
    """Sparse tf-idf cosine near-duplicate pairs → (id_a, id_b, dot,
    sim_micro) for pairs with cosine ≥ threshold_micro/1e6.

    The WEIGHTED complement of `ngram_jaccard_pairs`: Jaccard treats
    every shared n-gram equally, while tf-idf cosine up-weights rare
    terms and down-weights boilerplate — the Broder-vs-Salton pair every
    dedup stack ends up running side by side (templated docs score high
    on Jaccard but low here; topical near-dups the reverse).  Weights are
    exact int64: w = tf · idf_bits with idf_bits = floor(log2(n_docs //
    df)) — the same bit-length IDF device as `keywords.bm25_top_terms` —
    so dot products and norms are integers on both engines; only the
    final cosine normalization runs ONE identical IEEE-double expression
    (floor(1e6 · dot / sqrt(na·nb))), bit-reproducible cross-engine.

    Scale shape: the classic df-pruned inverted-index self-join (Bayardo
    et al. WWW'07 family): tf reduces on (doc, term) FIRST — the shuffle
    key includes doc_id, so the stop-word head never funnels one task —
    terms with df > max_df or idf_bits = 0 drop out of the posting list
    BEFORE the candidate join (they are the O(n²) skew bomb and carry
    near-zero weight anyway), and the pair aggregate is map-side
    combinable.  The weighted posting table feeds three consumers →
    persisted.  The persist is session-lifetime by design: the returned
    frame's lineage still reads it (an unpersist here would only disable
    the cache and triple-compute the postings), and the default
    MEMORY_AND_DISK level leaves eviction to the block manager's LRU —
    same convention as the other mid-lineage hub persists.  ``n`` sets the token n-gram order of the term space
    (n = 1: plain unigram tf-idf; n >= 2: shingled cosine - rarer terms,
    sharper idf spectrum, the w-shingling middle ground between unigram
    cosine and n-gram Jaccard)."""
    from .keywords import doc_term_freq

    if n == 1:
        tf = doc_term_freq(docs, id_col, text_col)
    else:
        tf = (
            widen(docs)
            .select(
                F.col(id_col).alias("doc_id"),
                F.explode(token_ngrams(F.col(text_col), n)).alias("term"),
            )
            .groupBy("doc_id", "term")
            .agg(F.count("*").cast("bigint").alias("tf"))
        )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    n_docs = tf.groupBy("doc_id").count().agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    weighted = (
        tf.join(dfreq.filter(F.col("df") <= max_df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf_bits", (F.length(F.bin(F.expr("n_docs DIV df"))) - 1).cast("bigint")
        )
        .filter(F.col("idf_bits") > 0)
        .select("doc_id", "term", (F.col("tf") * F.col("idf_bits")).alias("w"))
        .persist()
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("norm2")
    )
    dots = (
        weighted.alias("a")
        .join(weighted.alias("b"), "term")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("norm2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("norm2").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "sim_micro",
            F.floor(
                F.lit(1_000_000.0)
                * F.col("dot").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).cast("bigint"),
        )
        .filter(F.col("sim_micro") >= threshold_micro)
        .select("id_a", "id_b", "dot", "sim_micro")
    )


def quality_survivors(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "canonical_id",
    score_col: str = "quality_micro",
) -> DataFrame:
    """Quality-aware survivor selection: within each near-dup cluster
    keep the HIGHEST-scoring member instead of ``dedup_clusters``'s
    min-id convention → input columns + ``keep``.

    Min-id survivors are the right default for reproducibility, but a
    training-data mixer wants the best-written copy of each duplicated
    document (the near-dup members differ in boilerplate, truncation,
    OCR noise); this swaps the survivor policy without touching cluster
    membership.  Total order (score DESC, id ASC) makes the pick
    deterministic under score ties.  Scores should be exact integers
    (e.g. the QC profile's quality floored to micros) so both engines
    agree bit-for-bit.

    Scale shape: one equi-join on id + a top-1 row_number window
    partitioned by cluster — rank<=1 pushes map-side (WindowGroupLimit),
    so a pathological mega-cluster ships O(parts) rows, not its
    population.

    The score join is LEFT so cluster membership is preserved even when
    ``scores`` misses a member (the documented contract): unscored rows
    sort after every scored one (NULL → long-min sentinel, still id-
    tie-broken) rather than silently vanishing from the output."""
    j = clusters.join(scores.select(id_col, score_col), id_col, "left").withColumn(
        score_col, F.coalesce(F.col(score_col), F.lit(-(2**63)).cast("long"))
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        j.withColumn("_rk", F.row_number().over(w))
        .withColumn("keep", F.col("_rk") == 1)
        .drop("_rk")
    )
