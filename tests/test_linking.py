"""Alias linking, MinHash-LSH blocking, canonicalization via CC."""

from knowledge_graph_spark.operators.linking import (
    apply_canonicalization,
    canonical_map,
    jaccard_verify,
    link_aliases,
    minhash_candidate_pairs,
)
from knowledge_graph_spark.synth import synth_alias_dict


def test_link_aliases_broadcast(spark):
    nodes = spark.createDataFrame(
        [("ACME_CORP",), ("UNKNOWN_GUY",), ("GLOBEX_INC",)], "title string"
    )
    out = {
        r.title: (r.canonical_name, r.link_score)
        for r in link_aliases(nodes, synth_alias_dict(spark)).collect()
    }
    assert out["ACME_CORP"] == ("ACME", 0.9)
    assert out["GLOBEX_INC"] == ("GLOBEX", 0.9)
    assert out["UNKNOWN_GUY"] == ("UNKNOWN_GUY", 1.0)


def test_minhash_blocks_near_duplicates(spark):
    names = spark.createDataFrame(
        [
            ("ACME CORPORATION",),
            ("ACME CORPORATIN",),  # typo — near-dup
            ("ZETA DYNAMICS LLC",),
            ("ZETA DYNAMICS LC",),  # near-dup
            ("COMPLETELY DIFFERENT",),
        ],
        "title string",
    )
    pairs = minhash_candidate_pairs(names, num_perm=64, bands=16, seed=7)
    verified = jaccard_verify(pairs, threshold=0.6)
    got = {(r.name_a, r.name_b) for r in verified.collect()}
    assert ("ACME CORPORATIN", "ACME CORPORATION") in got
    assert ("ZETA DYNAMICS LC", "ZETA DYNAMICS LLC") in got
    assert not any("COMPLETELY DIFFERENT" in p for pair in got for p in pair)


def test_canonical_map_and_apply(spark):
    nodes = spark.createDataFrame(
        [
            ("ACME", "ORGANIZATION", "d1", ["u1"]),
            ("ACME_CORP", "", "d2", ["u2"]),
            ("BOB", "PERSON", "d3", ["u3"]),
        ],
        "title string, type string, description string, source_id array<string>",
    )
    edges = spark.createDataFrame(
        [
            ("ACME", "BOB", 2.0, "e1", ["u1"]),
            ("ACME_CORP", "BOB", 3.0, "e2", ["u2"]),
            ("ACME", "ACME_CORP", 9.0, "intra", ["u9"]),
        ],
        "source string, target string, weight double, description string, text_unit_ids array<string>",
    )
    pairs = spark.createDataFrame([("ACME", "ACME_CORP")], "name_a string, name_b string")
    mapping = canonical_map(nodes.select("title"), pairs)
    got = {r.title: r.canonical for r in mapping.collect()}
    assert got == {"ACME": "ACME", "ACME_CORP": "ACME", "BOB": "BOB"}

    cn, ce = apply_canonicalization(nodes, edges, mapping)
    n = {r.title: (r.type, r.description, tuple(r.source_id)) for r in cn.collect()}
    assert set(n) == {"ACME", "BOB"}
    assert n["ACME"] == ("ORGANIZATION", "d1\nd2", ("u1", "u2"))
    e = {(r.source, r.target): (r.weight, tuple(r.text_unit_ids)) for r in ce.collect()}
    # duplicate edges merged, weights summed, intra-cluster edge dropped
    assert e == {("ACME", "BOB"): (5.0, ("u1", "u2"))}


def test_alias_dict_feeds_canonicalization(spark):
    names = spark.createDataFrame(
        [("ACME",), ("ACME_CORP",), ("ACME_CORPORATION",), ("BOB",)], "title string"
    )
    empty_pairs = spark.createDataFrame([], "name_a string, name_b string")
    mapping = canonical_map(names, empty_pairs, alias_dict=synth_alias_dict(spark))
    got = {r.title: r.canonical for r in mapping.collect()}
    assert got["ACME_CORP"] == "ACME" and got["ACME_CORPORATION"] == "ACME"
    assert got["BOB"] == "BOB"


def test_canonical_map_merges_through_dictionary_canonical(spark):
    """Two aliases of one canonical form merge even when the canonical
    form never appears as a node title (EVT_CLICK—INTERACTION—EVT_VIEW)."""
    from knowledge_graph_spark.operators.linking import canonical_map

    nodes = spark.createDataFrame(
        [("EVT_CLICK",), ("EVT_VIEW",), ("OTHER",)], "title string"
    )
    alias = spark.createDataFrame(
        [("EVT_CLICK", "INTERACTION", 0.9), ("EVT_VIEW", "INTERACTION", 0.9)],
        "alias string, canonical_name string, score double",
    )
    no_pairs = spark.createDataFrame([], "name_a string, name_b string")
    got = {r.title: r.canonical for r in canonical_map(nodes, no_pairs, alias).collect()}
    assert got["EVT_CLICK"] == got["EVT_VIEW"] == "EVT_CLICK"  # min member
    assert got["OTHER"] == "OTHER"


def test_canonical_type_last_nonempty_wins(spark):
    """Type of the canonical node follows the extraction merge's
    "last non-empty wins": the member whose provenance extends latest in
    record order supplies the type, even when lexicographically smaller."""
    nodes = spark.createDataFrame(
        [
            ("A1", "ZTYPE", "d1", ["u1", "u2"]),
            ("A2", "ATYPE", "d2", ["u3"]),  # latest chunk u3 → ATYPE wins
            ("A3", "", "d3", ["u9"]),  # empty type never wins
        ],
        "title string, type string, description string, source_id array<string>",
    )
    edges = spark.createDataFrame(
        [], "source string, target string, weight double, description string,"
        " text_unit_ids array<string>"
    )
    mapping = spark.createDataFrame(
        [("A1", "A1"), ("A2", "A1"), ("A3", "A1")], "title string, canonical string"
    )
    cn, _ = apply_canonicalization(nodes, edges, mapping)
    row = cn.collect()[0]
    assert row.title == "A1" and row.type == "ATYPE"
