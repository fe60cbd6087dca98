"""Decontamination, unigram familiarity, repeated spans, semantic dedup,
integer PageRank — each checked against a small pure-Python oracle."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from knowledge_graph_spark.operators.corpus import (
    familiarity_profile,
    unigram_counts,
)
from knowledge_graph_spark.operators.decontam import (
    contamination_pairs,
    contamination_profile,
)
from knowledge_graph_spark.operators.dedup import repeated_span_profile
from knowledge_graph_spark.operators.graphops import pagerank_int
from knowledge_graph_spark.operators.similarity import semantic_dedup


def _ngrams(text: str, n: int) -> set[str]:
    toks = " ".join(text.lower().split()).split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_contamination_profile_vs_local(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "completely unrelated text about spark physical plans and shuffles"),
            (3, "short doc"),  # fewer than n tokens -> clean, zero grams
        ],
        "doc_id bigint, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog on benchmark day")],
        "eval_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in contamination_profile(docs, evalset, n=5, threshold=0.1).collect()
    }
    assert set(out) == {1, 2, 3}
    eval_grams = _ngrams("quick brown fox jumps over the lazy dog on benchmark day", 5)
    g1 = _ngrams("the quick brown fox jumps over the lazy dog near the river bank", 5)
    hits1 = len(g1 & eval_grams)
    assert out[1].n_grams == len(g1)
    assert out[1].n_hit == hits1 > 0
    assert out[1].contam_micro == math.floor(1_000_000 * hits1 / len(g1))
    assert out[1].is_contaminated
    assert out[2].n_hit == 0 and not out[2].is_contaminated
    assert out[3].n_grams == 0 and out[3].contam_micro == 0

    pairs = contamination_pairs(docs, evalset, n=5).collect()
    assert [(p.doc_id, p.eval_id, p.n_hit) for p in pairs] == [(1, 100, hits1)]


def test_familiarity_profile_vs_local(spark):
    rows = [
        (1, "alpha alpha beta gamma"),
        (2, "alpha beta beta delta"),
        (3, ""),  # empty doc -> all-zero profile
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    counts = unigram_counts(docs)
    vocab = {r.token: r.cnt for r in counts.collect()}
    corpus_counts = Counter()
    for _, t in rows:
        corpus_counts.update(t.split())
    assert vocab == dict(corpus_counts)

    out = {r.doc_id: r for r in familiarity_profile(docs, counts).collect()}
    for doc_id, text in rows:
        toks = text.split()
        exp_bits = sum(vocab[t].bit_length() - 1 for t in toks)
        r = out[doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_distinct == len(set(toks))
        assert r.n_rare == sum(1 for t in toks if vocab[t] == 1)
        assert r.familiarity_bits == exp_bits
        exp_mean = (
            math.floor(1_000_000 * exp_bits / len(toks)) if toks else 0
        )
        assert r.mean_bits_micro == exp_mean
    # shuffled-join fallback agrees with the broadcast path
    out2 = {
        r.doc_id: r
        for r in familiarity_profile(docs, counts, broadcast_vocab=False).collect()
    }
    assert out == out2


def test_repeated_span_profile_vs_local(spark):
    boiler = " ".join(f"b{i}" for i in range(6))
    rows = [
        (1, boiler + " " + " ".join(f"x{i}" for i in range(6))),
        (2, boiler + " " + " ".join(f"y{i}" for i in range(6))),
        (3, " ".join(f"z{i}" for i in range(12))),
        (4, "tiny"),  # shorter than the window -> zero windows
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.doc_id: r
        for r in repeated_span_profile(docs, window=6, stride=3).collect()
    }
    # local oracle: strided windows, repeated iff span in >= 2 distinct docs
    span_docs = defaultdict(set)
    wins = {}
    for doc_id, t in rows:
        toks = t.split()
        w = [
            " ".join(toks[i : i + 6])
            for i in range(0, len(toks) - 6 + 1, 3)
            if i + 6 <= len(toks)
        ]
        wins[doc_id] = w
        for s in w:
            span_docs[s].add(doc_id)
    for doc_id, _ in rows:
        w = wins[doc_id]
        n_rep = sum(1 for s in w if len(span_docs[s]) >= 2)
        r = out[doc_id]
        assert r.n_windows == len(w)
        assert r.n_repeated == n_rep
        exp = math.floor(1_000_000 * n_rep / len(w)) if w else 0
        assert r.rep_micro == exp
    assert out[1].n_repeated > 0 and out[3].n_repeated == 0
    assert out[4].n_windows == 0


def test_semantic_dedup_vs_exact_pairs(spark):
    # 2-d unit-ish vectors: ids 1/2 nearly parallel (same cell), 3 opposite
    # cell, 4 same cell as 1/2 but orthogonal-ish
    rows = [
        (1, [1.0, 0.1]),
        (2, [0.99, 0.12]),
        (3, [-1.0, -0.1]),
        (4, [0.1, 1.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(corpus, threshold=0.95, bits=2).collect()}
    assert len(out) == 4
    assert out[2].is_pruned and out[2].canonical_id == 1
    for vid in (1, 3, 4):
        assert not out[vid].is_pruned and out[vid].canonical_id == vid
    # cells: sign-bit blocking keeps 3 away from 1/2 even though |cos| high
    assert out[3].cell != out[1].cell


def _local_pagerank(edges, iterations=10, scale=10**12, num=85, den=100):
    sym = edges + [(b, a) for a, b in edges]
    nodes = sorted({x for e in sym for x in e})
    n = len(nodes)
    outdeg = Counter(a for a, _ in sym)
    rank = {v: scale // n for v in nodes}
    base = (scale * (den - num)) // (den * n)
    for _ in range(iterations):
        inflow = Counter()
        for a, b in sym:
            inflow[b] += (rank[a] * num) // (den * outdeg[a])
        rank = {v: base + inflow.get(v, 0) for v in nodes}
    return rank


def test_pagerank_int_vs_local(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "source string, target string")
    got = {r.title: r.rank_scaled for r in pagerank_int(df, iterations=10).collect()}
    assert got == _local_pagerank(edges)
    # mass conservation (minus floor + dangling loss): total <= scale
    assert sum(got.values()) <= 10**12
    # hub c outranks leaf e
    assert got["c"] > got["e"]
