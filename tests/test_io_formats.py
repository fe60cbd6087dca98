"""JSONL source/sink (io.read_jsonl / write_jsonl): schema-first reads,
corrupt-line quarantine, and row-preserving roundtrips; the GraphML
writer's refusal to merge ids."""

import json

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.graphml import read_graphml, write_graphml
from knowledge_graph_spark.io import CORRUPT_COL, read_jsonl, write_jsonl

DDL = "doc_id bigint, text string, lang string"


def test_read_jsonl_parses_and_quarantines(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    lines = [
        json.dumps({"doc_id": 1, "text": "alpha beta", "lang": "en"}),
        json.dumps({"doc_id": 2, "text": "gamma", "lang": "de"}),
        '{"doc_id": 3, "text": "truncated',  # malformed JSON
        json.dumps({"doc_id": 4, "text": None, "lang": "en"}),  # valid null
    ]
    p.write_text("\n".join(lines) + "\n")

    df = read_jsonl(spark, str(p), DDL).cache()
    good = df.where(F.col(CORRUPT_COL).isNull())
    bad = df.where(F.col(CORRUPT_COL).isNotNull())
    assert good.count() == 3
    assert {r["doc_id"] for r in good.collect()} == {1, 2, 4}
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert bad_rows[0][CORRUPT_COL].startswith('{"doc_id": 3')
    df.unpersist()


def test_jsonl_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "gamma delta", "de"), (3, None, "fr")], DDL
    )
    out = str(tmp_path / "out_jsonl")
    write_jsonl(src, out)
    # cache first: a count() over only the corrupt column is disallowed
    # on raw JSON reads (the gotcha read_jsonl's docstring documents)
    back = read_jsonl(spark, out, DDL).cache()
    assert back.where(F.col(CORRUPT_COL).isNotNull()).count() == 0
    got = {
        (r["doc_id"], r["text"], r["lang"])
        for r in back.drop(CORRUPT_COL).collect()
    }
    want = {(r["doc_id"], r["text"], r["lang"]) for r in src.collect()}
    assert got == want


def test_graphml_refuses_ids_that_merge_once_sanitised(spark, tmp_path):
    """'a' and 'a\\x00' are distinct ids that the writer's XML-1.0 stripping
    makes equal: written, one node would vanish and its edges would move
    to the other.  The writer names both and refuses; the same holds for
    attribute names.  Distinct ids that stay distinct still round-trip."""
    out = str(tmp_path / "g.graphml")
    edges = spark.createDataFrame([("a", "a\x00")], "source string, target string")
    nodes = spark.createDataFrame([("a", "x"), ("a\x00", "y")], "title string, kind string")
    with pytest.raises(ValueError, match=r"'a' and 'a\\x00'"):
        write_graphml(nodes, edges, out)

    named = spark.createDataFrame([("a", "x", "y")], "title string, `k` string, `k\x01` string")
    with pytest.raises(ValueError, match="node attribute names 'k' and 'k\\\\x01'"):
        write_graphml(named, edges.limit(0), out)

    nodes = spark.createDataFrame([("a", "x"), ("b\x00c", "y")], "title string, kind string")
    write_graphml(nodes, spark.createDataFrame([("a", "b\x00c")], edges.schema), out)
    n2, e2 = read_graphml(spark, out)
    assert sorted(r.title for r in n2.collect()) == ["a", "bc"]
    assert [(r.source, r.target) for r in e2.collect()] == [("a", "bc")]
