"""Tests for the training-data operators: dedup families, similarity
search, text QC, multimodal plumbing.

The probabilistic ops (MinHash-LSH, SimHash, hyperplane-LSH) are checked
against exact brute-force baselines computed in-process: recall bounds for
LSH, exact equality for the deterministic ops.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.operators import dedup, multimodal, similarity
from knowledge_graph_spark.operators.linking import _shingles


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again today"),
        (1, "THE  quick brown fox jumps over the lazy dog again and again today"),  # ws/case dup
        (2, "the quick brown fox jumps over the lazy cat again and again today"),  # near-dup
        (3, "completely different content about spark dataframes and shuffles"),
        (4, "another unrelated document mentioning adaptive query execution"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates(docs):
    out = {r.content_hash: r for r in dedup.exact_duplicates(docs).collect()}
    assert len(out) == 5  # 0 and 1 collapse
    dups = [r for r in out.values() if r.dup_count == 2]
    assert len(dups) == 1 and dups[0].canonical_id == 0


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # normalized-identical
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0  # near-dup
    assert not any({a, b} & {3, 4} for a, b in pairs)  # unrelated docs never pair


def test_minhash_recall_vs_exact(spark, docs):
    """Every exact char-shingle near-dup pair must be recovered by the
    LSH path at these (perm, band) settings on this tiny corpus."""
    import re

    rows = docs.filter(F.col("text") != "").collect()
    norm = {r.doc_id: re.sub(r"\s+", " ", r.text.lower().strip()) for r in rows}
    exact = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            if norm[a.doc_id] == norm[b.doc_id]:
                continue  # exact-identical normalized text → exact_duplicates' job
            sa, sb = _shingles(norm[a.doc_id], 9), _shingles(norm[b.doc_id], 9)
            j = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
            if j >= 0.5:
                exact.add(tuple(sorted((a.doc_id, b.doc_id))))
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_doc_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture must contain at least one exact near-dup pair"
    assert len(got & exact) / len(exact) >= 0.99  # full recall on tiny corpus
    # exact dup (0,1) expands got: doc 1 shares doc 0's normalized name
    assert all(pair in exact or {norm[pair[0]], norm[pair[1]]} <= set(norm.values()) for pair in got)


def test_minhash_incremental_equals_batch(spark, docs):
    """Folding three interleaved batches through the band index yields
    exactly the batch-mode pair set (no bucket saturates here), and a
    replayed batch (all names already indexed) contributes nothing."""
    from knowledge_graph_spark.functions.textqc import normalized_text

    batch = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_doc_pairs(docs, threshold=0.2).collect()
    }
    assert batch  # non-vacuous: the fixture has near-dups

    idx = None
    parts = []
    for k in range(3):
        p, idx = dedup.minhash_incremental(
            docs.filter(F.col("doc_id") % 3 == k), idx, threshold=0.2
        )
        parts.append(p)
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    named = docs.select("doc_id", normalized_text(F.col("text")).alias("title"))
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.pairs_to_ids(union, named).collect()
    }
    assert got == batch

    replay, idx2 = dedup.minhash_incremental(
        docs.filter(F.col("doc_id") % 3 == 0), idx, threshold=0.2
    )
    assert replay.count() == 0
    assert idx2.count() == idx.count()


def test_simhash_kernel_properties():
    sig = dedup.simhash_kernel([["a", "b", "c"], ["a", "b", "c"], ["a", "b", "d"], []])
    assert sig[0] == sig[1]
    assert bin((sig[0] ^ sig[2]) & ((1 << 64) - 1)).count("1") < 32  # near, not far
    assert sig[3] == 0


def test_simhash_pairs_find_near_dups(docs):
    got = {(r.id_a, r.id_b) for r in dedup.simhash_pairs(docs, max_hamming=16).collect()}
    assert (0, 1) in got


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    m = rng.randn(40, 16).astype("float32")
    m[1] = m[0] + 0.01 * rng.randn(16).astype("float32")  # planted near-dup
    rows = [(i, [float(x) for x in m[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>"), m


def _np_topk(m, qi, k):
    sims = (m @ m[qi]) / (np.linalg.norm(m, axis=1) * np.linalg.norm(m[qi]))
    order = sorted((int(-np.floor(s * 1e6)), i) for i, s in enumerate(sims) if i != qi)
    return [i for _, i in order[:k]]


def test_cosine_topk_matches_numpy(vectors):
    df, m = vectors
    q = df.filter(F.col("vec_id") < 5)
    got = similarity.cosine_topk(df, q, k=3).collect()
    by_query: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rk)):
        by_query.setdefault(r.query_id, []).append(r.neighbor_id)
    m64 = m.astype("float64")
    for qi in range(5):
        assert by_query[qi] == _np_topk(m64, qi, 3)


def test_ivf_topk_is_subset_of_cell(vectors):
    df, _ = vectors
    q = df.filter(F.col("vec_id") < 5)
    got = similarity.ivf_topk(df, q, k=3, bits=4).collect()
    cells = {r.vec_id: r.cell for r in df.select("vec_id", similarity.ivf_cell(F.col("embedding"), 4).alias("cell")).collect()}
    for r in got:
        assert cells[r.neighbor_id] == cells[r.query_id] == r.cell


def test_lsh_neardup_finds_planted_pair(vectors):
    df, _ = vectors
    got = {(r.id_a, r.id_b) for r in similarity.lsh_neardup_pairs(df, threshold=0.9, dim=16).collect()}
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_neardup_pairs(df, threshold=0.9).collect()
    }
    assert (0, 1) in exact
    assert (0, 1) in got  # hyperplane LSH keeps the near-identical pair
    assert got <= exact  # verification removes all false positives


def test_neardup_pairs_fast_matches_exact(vectors):
    """Distributed block-matmul (no driver collect) reproduces the exact
    fold variant's pair set; sims may differ in the last micro-ulp (BLAS
    pairwise vs sequential sum), so compare pairs and sim within 1.

    threshold 0.2 on random normals yields MANY pairs spread across all
    block-pair cells — a single planted pair once missed an off-diagonal
    orientation bug (pairs whose id order opposed the block order)."""
    df, _ = vectors
    for tau in (0.9, 0.2):
        exact = {
            (r.id_a, r.id_b): r.sim_micro
            for r in similarity.cosine_neardup_pairs(df, threshold=tau).collect()
        }
        # rows_per_block small → exercises a real multi-cell block grid
        fast = {
            (r.id_a, r.id_b): r.sim_micro
            for r in similarity.neardup_pairs_fast(
                df, threshold=tau, rows_per_block=8
            ).collect()
        }
        assert set(fast) == set(exact)
        assert len(exact) > 10 or tau == 0.9  # the 0.2 run must be dense
        for pair in exact:
            assert abs(fast[pair] - exact[pair]) <= 1


def test_media_meta_stub_and_frame_plan(spark, docs):
    media = multimodal.attach_payload(docs.filter(F.col("text") != ""))
    meta = multimodal.extract_media_meta(media)
    rows = {r.doc_id: r for r in meta.collect()}
    assert len(rows) == 5
    for r in rows.values():
        if r.media_type == "image":
            assert r.width >= 64 and r.duration_ms == 0
        if r.media_type == "audio":
            assert r.width == 0 and r.duration_ms >= 0
        assert len(r.fingerprint) == 32
    plan = multimodal.frame_sample_plan(meta).collect()
    video_ids = {r.doc_id for r in rows.values() if r.media_type == "video"}
    assert {r.doc_id for r in plan} == video_ids


def test_decode_stub_seam_raises(spark, docs):
    media = multimodal.attach_payload(docs.limit(1))
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        multimodal.extract_media_meta(media, decode_stub=False).collect()


def test_dedup_clusters_resolution(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3)
    got = {r.doc_id: r for r in dedup.dedup_clusters(docs, pairs).collect()}
    # docs 0/1/2 form one near-dup cluster → canonical 0; 3,4,5 standalone
    assert got[0].canonical_id == 0 and not got[0].is_duplicate
    assert got[1].canonical_id == 0 and got[1].is_duplicate
    assert got[2].canonical_id == 0 and got[2].is_duplicate
    for i in (3, 4, 5):
        assert got[i].canonical_id == i and not got[i].is_duplicate
