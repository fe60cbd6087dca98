"""Deterministic corpus mixing + sequence packing (operators/corpus.py)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from knowledge_graph_spark.operators.corpus import (
    pack_sequences,
    sample_key,
    weighted_sample,
)


def test_weighted_sample_rates_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id bigint, lang string",
    )
    rates = spark.createDataFrame(
        [("en", 0.5), ("de", 0.0)], "lang string, rate double"
    )
    kept = weighted_sample(docs, rates).collect()
    assert all(r.lang == "en" for r in kept)  # rate 0 drops everything
    # keep fraction near the rate (deterministic, so exactly reproducible)
    assert 0.4 < len(kept) / 1000 < 0.6
    again = {r.doc_id for r in weighted_sample(docs, rates).collect()}
    assert {r.doc_id for r in kept} == again
    # stratum missing from the rates table defaults to keep-all
    fr = spark.createDataFrame([(10_001, "fr")], "doc_id bigint, lang string")
    assert weighted_sample(fr, rates).count() == 1


def test_sample_key_uniform_bounds(spark):
    keys = (
        spark.range(5000)
        .select(sample_key(F.col("id")).alias("k"))
        .agg(F.min("k"), F.max("k"), F.avg("k"))
        .first()
    )
    assert 0.0 <= keys[0] and keys[1] < 1.0
    assert 0.45 < keys[2] < 0.55


def test_pack_sequences_invariants(spark):
    docs = spark.createDataFrame(
        [(i, 10 + (i * 37) % 90) for i in range(1000)], "doc_id bigint, n_tokens int"
    )
    target = 256
    out = pack_sequences(docs, target_tokens=target, buckets=4).collect()
    assert len(out) == 1000  # every doc assigned exactly once
    by_seq = defaultdict(list)
    for r in out:
        by_seq[(r.bucket, r.seq_id)].append(r)
    max_doc = 99
    for (_, seq_id), rows in by_seq.items():
        total = sum(r.n_tokens for r in rows)
        # a sequence only overflows by its straddling last doc
        assert total <= target + max_doc
        # every doc STARTS inside the sequence's budget window
        for r in rows:
            assert seq_id * target <= r.start_offset < (seq_id + 1) * target
    # offsets are a contiguous running sum within each bucket
    by_bucket = defaultdict(list)
    for r in out:
        by_bucket[r.bucket].append(r)
    for rows in by_bucket.values():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.start_offset == cum
            cum += r.n_tokens


def test_hash_split_fractions_and_stability(spark):
    from knowledge_graph_spark.operators.corpus import hash_split

    docs = spark.createDataFrame([(i,) for i in range(4000)], "doc_id bigint")
    out = hash_split(docs, val_frac=0.1, test_frac=0.1)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # uniform key → each 10% band lands near 400 of 4000
    assert 250 < counts["val"] < 550 and 250 < counts["test"] < 550
    # growth stability: adding documents never reassigns existing ones
    bigger = hash_split(
        spark.createDataFrame([(i,) for i in range(8000)], "doc_id bigint"),
        val_frac=0.1,
        test_frac=0.1,
    )
    small = {r.doc_id: r.split for r in out.collect()}
    big = {r.doc_id: r.split for r in bigger.collect() if r.doc_id < 4000}
    assert small == big


def test_length_profile_exact_order_stats(spark):
    from knowledge_graph_spark.operators.corpus import length_profile

    rows = [(i, "en", n) for i, n in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])]
    rows += [(100 + i, "de", n) for i, n in enumerate([5, 7, 9])]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_tokens int")
    got = {r.lang: r for r in length_profile(df).collect()}
    # en: 10 values → p50 index floor(9*5/10)=4 → 50; p90 index floor(9*9/10)=8 → 90
    assert (got["en"].n_docs, got["en"].p50, got["en"].p90, got["en"].max_tokens) == (
        10, 50, 90, 100,
    )
    # de: 3 values → p50 index 1 → 7; p90 index floor(2*9/10)=1 → 7
    assert (got["de"].n_docs, got["de"].p50, got["de"].p90, got["de"].max_tokens) == (
        3, 7, 7, 9,
    )


def test_dsir_prefers_target_like_documents(spark):
    from knowledge_graph_spark.operators.corpus import dsir_scores

    # Two disjoint bigram domains: target docs share "alpha beta gamma"
    # vocabulary, off-domain docs share "delta epsilon zeta".  A raw doc
    # written in target vocabulary must outscore one written off-domain.
    rows = []
    for i in range(10):  # target slice (ids 0-9, even => is_target below)
        rows.append((i, "alpha beta gamma alpha beta"))
    for i in range(10, 20):
        rows.append((i, "delta epsilon zeta delta epsilon"))
    # probes: 100/101 are raw docs written in each domain's vocabulary
    rows.append((100, "alpha beta gamma"))
    rows.append((101, "delta epsilon zeta"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dsir_scores(
        docs, target=F.col("doc_id") < 10, n_buckets=64, keep_k=12
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[100].mean_lr_micro > by_id[101].mean_lr_micro
    # n_grams = token count - 1 for a single-line doc
    assert by_id[100].n_grams == 2
    # exactly keep_k selected, and the top-scored probe is among them
    assert sum(r.selected for r in out) == 12
    assert by_id[100].selected
    assert not by_id[101].selected
    # every input doc appears exactly once (docs without bigrams too)
    one = spark.createDataFrame([(200, "solo")], "doc_id bigint, text string")
    out2 = dsir_scores(
        docs.unionByName(one), target=F.col("doc_id") < 10, n_buckets=64
    )
    row200 = out2.filter(F.col("doc_id") == 200).first()
    assert row200.n_grams == 0 and row200.mean_lr_micro == 0 and not row200.selected


def test_mixer_audit_reasons_and_kept(spark):
    from knowledge_graph_spark.operators.corpus import mixer_audit

    sig = spark.createDataFrame(
        [(1, 5, 0.9), (2, 50, 0.2), (3, 5, 0.2), (4, 50, 0.9)],
        "doc_id bigint, n_tokens int, quality double",
    )
    rules = [
        ("too_short", F.col("n_tokens") < 10),
        ("low_quality", F.col("quality") < 0.5),
    ]
    out = {r.doc_id: r for r in mixer_audit(sig, rules).collect()}
    assert out[1].reasons == "too_short" and not out[1].kept
    assert out[2].reasons == "low_quality"
    # fixed rule order, not alphabetical
    assert out[3].reasons == "too_short,low_quality"
    assert out[4].reasons == "" and out[4].kept


def test_bpe_train_matches_reference_trainer(spark):
    """The distributed loop must learn the same merge table as a plain
    single-process BPE trainer (Sennrich-style count/argmax/greedy-apply
    over word frequencies, no end-of-word marker)."""
    from collections import Counter

    from knowledge_graph_spark.operators.corpus import bpe_train_merges

    texts = [
        "the theme thesis then the the",
        "there other the brother mother",
        "aaa aab the banana bandana",
        "single x yz the them",
    ]

    def reference(texts, rounds):
        vocab = Counter()
        for t in texts:
            for w in t.split():
                vocab[w] += 1
        words = {w: [c for c in w] for w in vocab}
        merges = []
        for _ in range(rounds):
            pairs = Counter()
            for w, syms in words.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += vocab[w]
            (l, r), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((l, r, n))
            for w, syms in words.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                words[w] = out
        return merges

    rounds = 5
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = [
        (r.left_tok, r.right_tok, r.n_pairs)
        for r in bpe_train_merges(docs, rounds=rounds).orderBy("round").collect()
    ]
    assert got == reference(texts, rounds)
    # the multi-char merged symbol must participate in later merges
    # ("th"+"e" -> "the" is expected within 5 rounds on this corpus)
    assert any(len(l) > 1 or len(r) > 1 for l, r, _ in got)


def test_anchored_replace_merge_matches_greedy_fold(spark):
    """The newline-anchored replace construction must implement greedy
    left-to-right pair merging EXACTLY, including adversarial shapes:
    overlapping runs (aaa), consecutive pairs (abab), tokens that are
    prefixes/suffixes of each other (a/aa, b/ab), and multi-char merged
    symbols.  200 seeded pseudo-random sequences, one Spark pass."""
    from pyspark.sql import functions as F

    from knowledge_graph_spark.functions.hashing import HASH_A, HASH_C, HASH_M31

    alphabet = ["a", "b", "aa", "ab", "ba", "x"]
    cases = []
    for i in range(200):
        h = (HASH_A * (i + 1) + HASH_C) % HASH_M31
        n = 1 + h % 9
        syms = []
        for j in range(n):
            h = (HASH_A * (h + j + 1) + HASH_C) % HASH_M31
            syms.append(alphabet[h % len(alphabet)])
        l = alphabet[h % len(alphabet)]
        r = alphabet[(h // 7) % len(alphabet)]
        cases.append((i, syms, l, r))

    def greedy(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    df = spark.createDataFrame(
        cases, "i int, syms array<string>, _l string, _r string"
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
    got = {r.i: r.m for r in df.select("i", merged.alias("m")).collect()}
    for i, syms, l, r in cases:
        assert got[i] == greedy(syms, l, r), (i, syms, l, r, got[i])
