"""BM25 top-terms, vocab build, snapshot diff."""

import math

import pytest

from knowledge_graph_spark.operators.corpus import build_vocab, snapshot_diff
from knowledge_graph_spark.operators.keywords import (
    BM25_B,
    BM25_K1,
    SCORE_SCALE,
    bm25_top_terms,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "apple banana apple cherry"),
        (1, "banana cherry cherry durian"),
        (2, "apple apple apple banana"),
        (3, "elderberry fig grape"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_bm25_matches_hand_computation(spark, docs):
    out = bm25_top_terms(docs, k_top=3).collect()
    n_docs, total_len = 4, 15
    tfs = {
        0: {"apple": 2, "banana": 1, "cherry": 1},
        1: {"banana": 1, "cherry": 2, "durian": 1},
        2: {"apple": 3, "banana": 1},
        3: {"elderberry": 1, "fig": 1, "grape": 1},
    }
    dfs = {"apple": 2, "banana": 3, "cherry": 2, "durian": 1,
           "elderberry": 1, "fig": 1, "grape": 1}
    for r in out:
        tf = tfs[r["doc_id"]][r["term"]]
        df = dfs[r["term"]]
        assert r["tf"] == tf and r["df"] == df
        idf = (n_docs // df).bit_length() - 1
        assert r["idf_bits"] == idf
        dl = sum(tfs[r["doc_id"]].values())
        satur = (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * ((1.0 - BM25_B) + BM25_B * (dl * n_docs) / total_len)
        )
        assert r["score_micro"] == math.floor((SCORE_SCALE * float(idf)) * satur)
    # banana appears in 3 of 4 docs -> idf_bits 0 -> excluded everywhere
    assert not [r for r in out if r["term"] == "banana"]
    # rk is dense 1..k per doc, ordered by (score desc, term)
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [(-r["score_micro"], r["term"]) for r in rows]
        assert keys == sorted(keys)


def test_build_vocab_ids_are_frequency_ranked(spark, docs):
    v = {r["token"]: r for r in build_vocab(docs).collect()}
    # apple 5, banana 3, cherry 3, then singletons in lexicographic order
    assert v["apple"]["token_id"] == 0 and v["apple"]["cnt"] == 5
    assert v["banana"]["token_id"] == 1  # cnt 3, 'banana' < 'cherry'
    assert v["cherry"]["token_id"] == 2
    singles = sorted(t for t, r in v.items() if r["cnt"] == 1)
    assert [v[t]["token_id"] for t in singles] == [3, 4, 5, 6]


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [("a", "T1", "d1"), ("b", "T2", "d2"), ("c", "T3", None)],
        "title: string, type: string, description: string",
    )
    new = spark.createDataFrame(
        [("a", "T1", "d1"), ("b", "T2", "DIFFERENT"), ("d", "T4", "d4")],
        "title: string, type: string, description: string",
    )
    out = {r["title"]: r for r in
           snapshot_diff(old, new, ["title"], ["type", "description"]).collect()}
    assert out["a"]["status"] == "unchanged"
    assert out["b"]["status"] == "changed"
    assert out["c"]["status"] == "removed" and out["c"]["new_type"] is None
    assert out["d"]["status"] == "added" and out["d"]["old_type"] is None
    # null-safe compare: None == None counts as equal
    old2 = old.filter("title = 'c'")
    new2 = old2
    assert snapshot_diff(old2, new2, ["title"], ["type", "description"]).collect()[0]["status"] == "unchanged"
