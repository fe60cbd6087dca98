"""BM25 top-terms."""

import math

import pytest

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
