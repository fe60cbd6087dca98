"""Corpus assembly operators for training-data pipelines: deterministic
weighted mixing and sequence packing.

Pretraining corpora are BUILT, not just filtered: sources are re-weighted
(sample web text down, books up; rebalance languages) and documents are
packed into fixed-token-budget training sequences.  Both operators here
are closed-form deterministic — no RNG state — so runs are reproducible,
resumable shards agree, and a SQL oracle reproduces every row:

- **weighted_sample**: per-document uniform key in [0, 1) from the
  int64-safe affine hash family (functions/hashing.py) on the doc id;
  keep iff key < the stratum's rate.  One broadcast join against the
  tiny rates table + a narrow filter — fused into the scan, no shuffle.
- **pack_sequences**: documents are hashed into ``buckets`` independent
  packing streams; within a bucket (ordered by id) a running token sum
  assigns ``seq_id = floor((cumsum - n_tokens) / target)`` — the
  standard greedy offset packer (a document starting inside a sequence's
  budget joins it; one doc may straddle the boundary, the streaming
  packer's usual overflow rule).  One window per bucket — embarrassingly
  parallel across buckets, so the packer scales with the corpus while
  staying bit-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import FP_MOD, HASH_A, HASH_B, HASH_C, HASH_M31
from ..partitioning import widen

KEY_SCALE = 1_000_000  # sample keys reported as micro-units for exact compare


def salt_ab(salt: int) -> tuple[int, int]:
    """(a, b) affine coefficients for the salted key family:
    a = (HASH_A·(salt+1)) mod M31, b = (HASH_B·salt + HASH_C) mod M31.
    salt 0 reproduces the original (HASH_A, HASH_C) key.  Every sampling
    operator draws a DISTINCT salt so their keep/priority/split decisions
    are decorrelated: with one shared key, stratum_cap keeps exactly the
    smallest split keys per stratum and (for small caps) nearly all
    survivors land in 'test'/'val' — observed and flagged in round 2.
    a < 2^31 and x < FP_MOD = 2^30 → a·x + b < 2^62: int64-safe."""
    return (HASH_A * (salt + 1)) % HASH_M31, (HASH_B * salt + HASH_C) % HASH_M31


# fixed operator salts (documented here, mirrored in the gate oracles)
SALT_SAMPLE = 0  # weighted_sample / corpus mix
SALT_CAP = 1  # stratum_cap reservoir priority
SALT_SPLIT = 2  # hash_split / leak-free split


def sample_key(id_col: F.Column, salt: int = SALT_SAMPLE) -> F.Column:
    """Deterministic uniform key in [0, 1): salted affine hash of the id
    over the Mersenne-31 modulus.  id is first reduced mod FP_MOD so the
    product stays < 2^62 on every engine (int64-safe)."""
    a, b = salt_ab(salt)
    x = F.pmod(id_col.cast("long"), F.lit(FP_MOD))
    h = F.pmod(F.lit(a).cast("long") * x + F.lit(b), F.lit(HASH_M31))
    return h.cast("double") / F.lit(float(HASH_M31))


def weighted_sample(
    docs: DataFrame,
    rates: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep each document with its stratum's probability, deterministically.

    ``rates``: (strata_col, rate) — small, broadcast.  Strata missing
    from the table default to rate 1.0 (kept).  Adds ``key_micro``
    (floor(key * 1e6)) so two engines can compare the decision margin
    exactly."""
    r = F.broadcast(rates.select(strata_col, "rate"))
    key = sample_key(F.col(id_col))
    return (
        docs.join(r, strata_col, "left")
        .withColumn("rate", F.coalesce(F.col("rate"), F.lit(1.0)))
        .filter(key < F.col("rate"))
        .withColumn("key_micro", F.floor(key * KEY_SCALE).cast("bigint"))
    )


def stratum_cap(
    docs: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """Keep exactly min(k, |stratum|) rows per stratum — the per-source
    cap every web-scale mixer applies ("at most k docs per domain") and,
    equivalently, a deterministic reservoir sample: with a uniform race
    key replacing the RNG (Efraimidis-Spirakis with unit weights), the k
    smallest keys per stratum are a uniform k-subset, and membership is
    reproducible across engines, re-runs, and resumes — unlike
    ``df.sampleBy``, whose output moves when partitioning does.

    Scale shape: priority is the affine integer hash at its OWN salt
    (SALT_CAP — decorrelated from hash_split/weighted_sample so the cap
    survivors are not biased toward one split; kept unscaled so
    collisions need id collisions mod FP_MOD; id tiebreak covers even
    those).  The
    ``row_number() ≤ k`` filter triggers Spark's rank-limit pushdown
    (WindowGroupLimit): each map partition pre-prunes to its local top-k
    per stratum BEFORE the shuffle, so a hot stratum ships
    O(k · n_input_partitions) rows, never its population — the window
    analogue of map-side partial aggregation (asserted in
    tests/test_physical_plans.py).  Adds (pri, rk)."""
    cap_a, cap_b = salt_ab(SALT_CAP)
    x = F.pmod(F.col(id_col).cast("long"), F.lit(FP_MOD))
    pri = F.pmod(F.lit(cap_a).cast("long") * x + F.lit(cap_b), F.lit(HASH_M31))
    w = Window.partitionBy(strata_col).orderBy("pri", id_col)
    return (
        docs.withColumn("pri", pri.cast("bigint"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def pack_sequences(
    docs: DataFrame,
    token_col: str = "n_tokens",
    target_tokens: int = 2048,
    buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document to a training sequence:
    (id, bucket, seq_id, start_offset).  ``buckets`` independent greedy
    packing streams (hash-partitioned) — the window sort is per bucket,
    never global, so the packer has no single-partition stage."""
    x = F.pmod(F.col(id_col).cast("long"), F.lit(FP_MOD))
    bucket = F.pmod(
        F.pmod(F.lit(HASH_A).cast("long") * x + F.lit(HASH_C), F.lit(HASH_M31)),
        F.lit(buckets),
    ).cast("int")
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w)
    return (
        docs.withColumn("bucket", bucket)
        .withColumn("start_offset", (cum - F.col(token_col)).cast("bigint"))
        .withColumn(
            "seq_id",
            F.floor(F.col("start_offset") / F.lit(target_tokens)).cast("bigint"),
        )
        .select(id_col, token_col, "bucket", "seq_id", "start_offset")
    )


def unigram_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus unigram table: (token, cnt) over normalized whitespace
    tokens.  One explode + one groupBy; partial aggregation collapses the
    hot head of the Zipf curve map-side, so the shuffle carries roughly
    |vocab| rows per input partition, not |corpus| rows."""
    from ..functions.textqc import normalized_text, ws_tokens_col

    return (
        widen(docs).select(
            F.explode(ws_tokens_col(normalized_text(F.col(text_col)))).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def familiarity_profile(
    docs: DataFrame,
    counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Corpus-derived unigram language-model score per document — the
    classic pretraining quality signal (CCNet / Gopher style) computed
    WITHOUT an external model: documents made of corpus-frequent tokens
    score high, documents of corpus-singletons score low.

    All outputs are exact integers so the DuckDB oracle matches
    bit-for-bit: per token occurrence the score contribution is
    floor(log2(cnt)) computed as ``length(bin(cnt)) - 1`` (pure integer
    bit-length — no libm, no cross-engine log rounding), summed over the
    document.

    Returns (doc_id, n_tokens, n_distinct, n_rare, familiarity_bits,
    mean_bits_micro):
      - n_rare: occurrences of corpus-singleton tokens (cnt == 1),
      - familiarity_bits: sum of floor(log2(cnt)) over occurrences,
      - mean_bits_micro: floor(1e6 * familiarity_bits / n_tokens).

    Scale shape: per-(doc, token) occurrence counts are reduced FIRST
    (shuffle key includes doc_id — no hot-token skew), then joined to the
    vocab table on token.  The vocab is Zipf-bounded (millions of rows at
    100 TB, not billions) — broadcast by default; ``broadcast_vocab=
    False`` falls back to a shuffled join where AQE's skew split handles
    the stop-word head."""
    from ..functions.textqc import normalized_text, ws_tokens_col

    vocab = counts.select("token", "cnt")
    if broadcast_vocab:
        vocab = F.broadcast(vocab)
    occ = (
        widen(docs).select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(
                ws_tokens_col(normalized_text(F.col(text_col)))
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.col("token")).cast("bigint").alias("c"))
    )
    bits = (F.length(F.bin(F.col("cnt"))) - 1).cast("bigint")
    scored = occ.join(vocab, "token", "left").groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("token").isNull(), 0).otherwise(1))
        .cast("bigint")
        .alias("n_distinct"),
        F.sum(F.when(F.col("cnt") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_rare"),
        F.sum(F.coalesce(F.col("c") * bits, F.lit(0)))
        .cast("bigint")
        .alias("familiarity_bits"),
    )
    mean = F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
        F.col("familiarity_bits").cast("double")
        * 1_000_000
        / F.col("n_tokens").cast("double")
    )
    return scored.select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "n_distinct",
        "n_rare",
        "familiarity_bits",
        F.floor(mean).cast("bigint").alias("mean_bits_micro"),
    )


def hash_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    val_frac: float = 0.05,
    test_frac: float = 0.05,
) -> DataFrame:
    """Deterministic train/val/test assignment — adds (split, key_micro).

    The standard training-corpus splitter: the same closed-form uniform
    key FAMILY as weighted_sample at its own salt (SALT_SPLIT — the
    split decision must be independent of cap priority and sample keep;
    affine hash over M31 — no RNG, no seed state, so assignment is
    stable under re-runs, resumes, and engine changes; a document NEVER
    migrates between splits when the corpus grows, unlike randomSplit).
    Thresholds: key < test_frac → test, < test_frac+val_frac → val, else
    train.  Pure Column algebra, zero shuffle — the split column is
    computed in the scan stage.
    """
    key = sample_key(F.col(id_col), salt=SALT_SPLIT)
    split = (
        F.when(key < F.lit(test_frac), F.lit("test"))
        .when(key < F.lit(test_frac + val_frac), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.withColumn("split", split).withColumn(
        "key_micro", F.floor(key * KEY_SCALE).cast("bigint")
    )


def length_profile(
    profile: DataFrame,
    strata_col: str = "lang",
    n_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum exact token-length order statistics →
    (stratum, n_docs, p50, p90, max_tokens).

    Batch-size planning / outlier detection for a training corpus.  The
    percentiles are EXACT order statistics (element at integer index
    floor((n-1)·q), ties broken by id) — not an approximate sketch — so
    two engines agree bit-for-bit; the index arithmetic is pure int64.
    One shuffle (window by stratum) + a map-side-combinable aggregate.
    At 100 TB the per-stratum sort is the cost: strata are languages
    (dozens), so the window parallelizes across them; for a single giant
    stratum switch to percentile_approx and drop the oracle claim.
    """
    w = Window.partitionBy(strata_col).orderBy(F.col(n_col).asc(), F.col(id_col).asc())
    ranked = profile.select(
        strata_col,
        F.col(n_col).cast("bigint").alias("n"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy(strata_col)).alias("cnt"),
    )
    # exact integer index: ((cnt-1)*num) div den — Spark `div` ≡ DuckDB `//`
    at = lambda q_num, q_den: F.max(  # noqa: E731
        F.when(
            F.col("rn") == F.expr(f"((cnt - 1) * {q_num}) div {q_den}") + 1,
            F.col("n"),
        )
    )
    return ranked.groupBy(strata_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        at(5, 10).alias("p50"),
        at(9, 10).alias("p90"),
        F.max("n").alias("max_tokens"),
    )


def dsir_scores(
    docs: DataFrame,
    target: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    keep_k: int = 100,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much its hashed
    n-gram distribution looks like a *target domain*, then keep the top
    ``keep_k``.  This is the standard pretraining-data curation move when
    you have a small in-domain seed set (the ``target`` predicate) and a
    huge raw crawl.

    Features are the paper's hashed bigrams: each whitespace-token bigram
    is fingerprinted (`rolling_fingerprint`, the shared SQL-expressible
    polynomial family) into ``n_buckets`` buckets.  Per bucket we fit two
    add-one-smoothed count models — target vs raw — and the per-document
    score is the mean log-likelihood ratio over its bigram occurrences.
    All arithmetic is exact integers: log2 via bit_length
    (``length(bin(c+1)) - 1``), the mean reported as a floored
    micro-ratio, so the DuckDB oracle matches bit-for-bit.  Using raw
    counts instead of probabilities shifts every occurrence's term by the
    same constant log(|raw|/|target|); the per-gram mean makes that a
    constant offset on every document, leaving the RANKING identical to
    the normalized-probability form — which is all selection uses.

    Selection is deterministic importance *ranking* (no RNG): top
    ``keep_k`` under the tie-free total order (score DESC, id ASC) via
    ``orderBy().limit()`` — TakeOrderedAndProject, a per-partition heap,
    never a global sort — then a broadcast semi-join stamps ``selected``.

    Scale shape: bigrams shuffle once keyed by (doc, bucket) — partial
    aggregation collapses repeats map-side; the bucket model table is
    ``n_buckets`` rows, always broadcast.  Nothing here grows with corpus
    size except the two linear scans.

    Returns (doc_id, n_grams, dsir_bits, mean_lr_micro, selected) for
    every input document (docless-of-bigrams rows score 0).
    """
    from ..functions.textqc import rolling_fingerprint
    from .dedup import token_windows

    grams = widen(docs).select(
        F.col(id_col).alias("doc_id"),
        target.alias("is_target"),
        F.explode(token_windows(F.col(text_col), 2, 1)).alias("span"),
    ).withColumn(
        "b", F.pmod(rolling_fingerprint(F.col("span")), F.lit(n_buckets))
    )
    # occ feeds BOTH the bucket models and the per-doc scores; persist so
    # the text scan + bigram explode run once (the ngram_dedup pattern)
    occ = grams.groupBy("doc_id", "b").agg(
        F.count("*").cast("bigint").alias("c"),
        F.first("is_target").alias("is_target"),
    ).persist()
    bits = lambda c: (F.length(F.bin(c + F.lit(1))) - 1).cast("bigint")  # noqa: E731
    buckets = occ.groupBy("b").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(0)).alias("ct"),
    ).select("b", (bits(F.col("ct")) - bits(F.col("cr"))).alias("wt"))
    prof = (
        occ.join(F.broadcast(buckets), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum(F.col("c") * F.col("wt")).cast("bigint").alias("dsir_bits"),
        )
    )
    mean = F.floor(
        F.col("dsir_bits").cast("double") * 1_000_000 / F.col("n_grams").cast("double")
    ).cast("bigint")
    # prof feeds the top-K heap AND the output join — persist (tiny: one
    # row per doc)
    prof = prof.select(
        "doc_id", "n_grams", "dsir_bits", mean.alias("mean_lr_micro")
    ).persist()
    top = (
        prof.orderBy(F.desc("mean_lr_micro"), F.asc("doc_id"))
        .limit(keep_k)
        .select("doc_id", F.lit(True).alias("selected"))
    )
    out = (
        widen(docs).select(F.col(id_col).alias("doc_id"))
        .join(prof, "doc_id", "left")
        .join(F.broadcast(top), "doc_id", "left")
    )
    return out.select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("dsir_bits", F.lit(0)).cast("bigint").alias("dsir_bits"),
        F.coalesce("mean_lr_micro", F.lit(0)).cast("bigint").alias("mean_lr_micro"),
        F.coalesce("selected", F.lit(False)).alias("selected"),
    )


def mixer_audit(
    signals: DataFrame, rules: list[tuple[str, F.Column]], id_col: str = "doc_id"
) -> DataFrame:
    """Dolma-style tagger/mixer audit (Soldaini et al. 2024,
    arXiv:2402.00159): given one row of quality signals per document and
    an ordered list of (rule_name, fires) predicates, emit WHY each
    document was kept or dropped — the provenance table a curation
    pipeline ships alongside the filtered corpus so cut decisions are
    auditable and re-mixable without recomputing the taggers.

    ``reasons`` is the comma-joined names of the rules that fired, in the
    given (fixed) rule order — `concat_ws` skips the NULLs from rules
    that did not fire identically on every engine, so the string is
    deterministic without a sort.  ``kept`` is "no rule fired".

    Pure row-local Column algebra over the signals table: no shuffle, no
    Python — the audit fuses into whatever scan produced the signals.
    """
    reasons = F.concat_ws(
        ",", *[F.when(pred, F.lit(name)) for name, pred in rules]
    )
    return signals.select(
        F.col(id_col).alias("doc_id"),
        reasons.alias("reasons"),
        (reasons == F.lit("")).alias("kept"),
    )


def bpe_train_merges(
    docs: DataFrame, rounds: int = 3, text_col: str = "text"
) -> DataFrame:
    """Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016,
    arXiv:1508.07909): ``rounds`` iterations of "count every adjacent
    symbol pair, merge the most frequent everywhere" → the learned merge
    table (round, left_tok, right_tok, n_pairs), which IS a BPE
    tokenizer's core artifact.  Training starts from single characters.

    Like every real BPE trainer, the loop runs over the WORD-FREQUENCY
    table, not the corpus: the text is scanned once into (word, cnt) —
    Zipf-bounded (millions of rows at 100 TB, not trillions) — and every
    subsequent round touches only that table.  Per round:

    1. adjacent-pair counts weighted by word frequency (explode + one
       combinable groupBy);
    2. argmax under the tie-free total order (n DESC, left, right) via
       ``orderBy().limit(1)`` — TakeOrderedAndProject;
    3. apply the merge greedily left-to-right inside every word via plain
       string ``replace`` over a newline-anchored rendering: symbols are
       joined with two '\\n's and the word wrapped in single '\\n's, so
       the pattern '\\n l \\n\\n r \\n' can only match WHOLE adjacent
       symbols (tokens never contain whitespace), the shared boundary
       newline lets consecutive pairs both merge, and replace's leftmost
       non-overlapping scan IS greedy BPE semantics ("aaa" + merge(a,a)
       → [aa, a]).  Native on both engines, no Python.  (A struct-
       accumulator aggregate fold is equivalent in Spark, but DuckDB
       1.0's list_reduce corrupts list-in-struct accumulators across
       consecutive branches — measured — so both sides use replace.)

    The oracle runs the identical construction, so the learned merges
    hash-match exactly.  No end-of-word marker is appended (deviation
    from Sennrich's </w>; merges are purely intra-word — documented,
    same both engines).
    """
    from ..functions.textqc import normalized_text, ws_tokens_col

    vocab = (
        widen(docs)
        .select(F.explode(ws_tokens_col(normalized_text(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            "cnt",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
        )
        .persist()
    )
    merged = F.expr(
        r"""
        split(
          substring(
            replace(concat('\n', array_join(syms, '\n\n'), '\n'),
                    concat('\n', _l, '\n\n', _r, '\n'),
                    concat('\n', _l, _r, '\n')),
            2,
            length(replace(concat('\n', array_join(syms, '\n\n'), '\n'),
                           concat('\n', _l, '\n\n', _r, '\n'),
                           concat('\n', _l, _r, '\n'))) - 2),
          '\n\n')
        """
    )
    merges = None
    for r in range(1, rounds + 1):
        pairs = (
            vocab.select(
                "cnt",
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) < 2 THEN CAST(array() AS array<struct<l:string,r:string>>) "
                        "ELSE transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] AS l, syms[i] AS r)) END"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("_l"), F.col("p.r").alias("_r"))
            .agg(F.sum("cnt").cast("bigint").alias("_n"))
        )
        best = pairs.orderBy(F.desc("_n"), F.asc("_l"), F.asc("_r")).limit(1).persist()
        row = best.select(
            F.lit(r).cast("int").alias("round"),
            F.col("_l").alias("left_tok"),
            F.col("_r").alias("right_tok"),
            F.col("_n").alias("n_pairs"),
        )
        merges = row if merges is None else merges.unionByName(row)
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .select("cnt", merged.alias("syms"))
            .persist()
        )
    return merges


def tertile_buckets(
    scored: DataFrame,
    strata_col: str = "lang",
    score_col: str = "mean_bits_micro",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): within each stratum, rank documents by the LM
    quality score and cut into head / middle / tail tertiles — the
    standard way pretraining mixes are then drawn (head-heavy sampling).

    Integer-exact and tie-free: rk = row_number over (stratum, score
    DESC, id ASC); head iff 3·rk ≤ n, middle iff 3·rk ≤ 2n, else tail —
    no division, no percentile interpolation, so the SQL oracle matches
    bit-for-bit.  One stratum-partitioned window (never global) + a
    stratum-count broadcast join.
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    n = F.broadcast(
        scored.groupBy(strata_col).agg(F.count("*").cast("bigint").alias("_n"))
    )
    ranked = scored.withColumn("rk", F.row_number().over(w).cast("bigint")).join(
        n, strata_col
    )
    bucket = (
        F.when(3 * F.col("rk") <= F.col("_n"), F.lit("head"))
        .when(3 * F.col("rk") <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.select(
        id_col, strata_col, score_col, F.col("rk"), bucket.alias("bucket")
    )
