"""Tests for claims (V1-V5), description summarization (D1-D2), and
community report preparation (R1-R13)."""

from __future__ import annotations

import datetime

import pytest

from knowledge_graph_spark.operators import claims as C
from knowledge_graph_spark.operators import reports as R
from knowledge_graph_spark.operators.graphops import node_degrees, with_edge_rank
from knowledge_graph_spark.operators.summarize import summarize_descriptions


@pytest.fixture(scope="module")
def transcripts(spark):
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", "USER_1 saw EVT_CLICK on ITEM_2", "", ts),
        ("c1", 1, "assistant", "USER_1 saw EVT_VIEW on ITEM_3", "", ts),
        ("c2", 0, "user", "USER_2 saw EVT_CLICK on ITEM_2", "", ts),
        ("c2", 1, "tool", "no claim in this turn", "search", ts),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def test_claim_extraction_end_to_end(spark, transcripts):
    alias = spark.createDataFrame(
        [("ITEM_2", "PRODUCT_TWO", 0.9)], "alias string, canonical_name string, score double"
    )
    out = {r.subject_id: r for r in C.extract_claims(transcripts, alias).collect()}
    assert set(out) == {"USER_1", "USER_2"}
    u1 = out["USER_1"]
    assert u1.n_claims == 2
    # first-by-ordinal: turn 0 wins
    assert u1.object_id == "PRODUCT_TWO"  # alias-substituted ITEM_2
    assert u1.claim_type == "EVT_CLICK"
    assert u1.start_date == "2024-01-01" and u1.end_date == C.NO_DATE
    # description merge: sorted distinct space-joined, raw (pre-link) names
    assert u1.description == "USER_1 EVT_CLICK ITEM_2 USER_1 EVT_VIEW ITEM_3"
    assert u1.doc_ids == "c1"
    assert out["USER_2"].n_claims == 1
    hrids = sorted((r.subject_id, r.human_readable_id) for r in out.values())
    assert hrids == [("USER_1", 0), ("USER_2", 1)]


def test_claim_parser_field_positions(spark):
    rec = spark.createDataFrame(
        [("c", 0, "(S<|>O<|>T<|>TRUE<|>2024-01-02<|>NONE<|>desc here<|>src text)")],
        "conv_id string, turn_idx int, record string",
    )
    row = C.parse_claim_records(rec).collect()[0]
    assert (row.subject_id, row.object_id, row.claim_type) == ("S", "O", "T")
    assert (row.status, row.start_date, row.end_date) == ("TRUE", "2024-01-02", "NONE")
    assert row.description == "desc here" and row.source_text == "src text"


def test_summarize_descriptions_paths(spark):
    df = spark.createDataFrame(
        [
            ("A", ""),
            ("B", "only one"),
            ("C", "first\nsecond"),
        ],
        "title string, description string",
    )
    out = {r.title: r.summary for r in summarize_descriptions(df).collect()}
    assert out["A"] == ""
    assert out["B"] == "only one"
    assert out["C"] == "C: first; second"


def test_summarize_token_budget(spark):
    long1 = " ".join(["w"] * 30)
    long2 = " ".join(["x"] * 30)
    df = spark.createDataFrame(
        [("T", f"{long1}\n{long2}")], "title string, description string"
    )
    out = summarize_descriptions(df, max_input_tokens=35).collect()[0].summary
    assert out == f"T: {long1}"  # second description does not fit the budget
    out_all = summarize_descriptions(df, max_input_tokens=100).collect()[0].summary
    assert out_all == f"T: {long1}; {long2}"


@pytest.fixture(scope="module")
def graph(spark):
    nodes = spark.createDataFrame(
        [("A", "PERSON", "dA"), ("B", "GEO", "dB"), ("C", "PERSON", ""), ("D", "ORG", "dD")],
        "title string, type string, description string",
    )
    edges = spark.createDataFrame(
        [("A", "B", 3.0, "ab"), ("B", "C", 1.0, "bc")],
        "source string, target string, weight double, description string",
    )
    comm = spark.createDataFrame(
        [("A", "g1"), ("B", "g1"), ("C", "g1"), ("D", "g2")], "title string, community string"
    )
    return nodes, edges, comm


def test_report_pipeline(spark, graph):
    nodes, edges, comm = graph
    deg = node_degrees(edges)
    nctx = R.node_context(nodes, deg, comm)
    got = {r.title: r for r in nctx.collect()}
    assert got["C"].description == R.NO_DESCRIPTION  # empty → filled
    assert got["B"].degree == 2 and got["D"].degree == 0
    ectx = R.edge_context(with_edge_rank(edges, deg), comm)
    assert ectx.count() == 2  # both edges internal to g1
    ctx = R.community_local_context(nctx, ectx, top_k=10)
    rows = {r.community: r for r in ctx.collect()}
    assert rows["g1"].n_entities == 3 and rows["g1"].weight_mass == 4.0
    assert rows["g2"].n_edges == 0
    # entity rows sorted by degree desc then title
    assert rows["g1"].context_string.splitlines()[2].startswith("B,GEO,2")
    reports = {r.community: r for r in R.render_reports(ctx).collect()}
    assert reports["g1"].human_readable_id == 0  # highest weight mass first
    assert "# Community g1" in reports["g1"].full_content


def test_community_hierarchy_containment(spark):
    leveled = spark.createDataFrame(
        [
            ("A", "p", 0), ("B", "p", 0), ("C", "p", 0), ("D", "q", 0),
            ("A", "p/x", 1), ("B", "p/x", 1), ("C", "p/y", 1),
        ],
        "title string, community string, level int",
    )
    got = {(r.community, r.sub_community): r.sub_community_size
           for r in R.community_hierarchy(leveled).collect()}
    assert got == {("p", "p/x"): 2, ("p", "p/y"): 1}


def test_build_mixed_context(spark):
    """R11/R12: oversized parent context substitutes largest sub-contexts
    with report summaries; reports-only fallback when still over."""
    big = " ".join(["w"] * 40)
    small = " ".join(["s"] * 5)
    parent_ctx = spark.createDataFrame(
        [("p", f"{big} {big}"), ("q", small)], "community string, context_string string"
    )
    hierarchy = spark.createDataFrame(
        [("p", 0, "p/x", 2), ("p", 0, "p/y", 1)],
        "community string, level int, sub_community string, sub_community_size int",
    )
    sub_ctx = spark.createDataFrame(
        [("p/x", big), ("p/y", small)], "community string, context_string string"
    )
    sub_reports = spark.createDataFrame(
        [("p/x", "x summary"), ("p/y", "y summary")], "community string, summary string"
    )
    from knowledge_graph_spark.operators.reports import build_mixed_context

    # budget 50: parent (80 tok) overflows → rebuilt from sub contexts
    # (40 + 5 = 45) which already fits; no substitution needed
    got = {r.community: r for r in build_mixed_context(
        parent_ctx, hierarchy, sub_ctx, sub_reports, max_tokens=50
    ).collect()}
    assert got["q"].n_substituted == 0 and not got["q"].exceeds_budget
    assert got["p"].n_substituted == 0 and got["p"].context_tokens == 45

    # budget 30: sub mix (45) overflows → largest sub swapped for its
    # 4-token report line; the small sub stays verbatim
    p = {r.community: r for r in build_mixed_context(
        parent_ctx, hierarchy, sub_ctx, sub_reports, max_tokens=30
    ).collect()}["p"]
    assert p.n_substituted == 1
    assert "Report p/x: x summary" in p.mixed_context
    assert small in p.mixed_context
    assert not p.exceeds_budget and p.context_tokens <= 30

    # budget 5: even all-summaries (8 tok) overflow → reports-only packing
    p2 = {r.community: r for r in build_mixed_context(
        parent_ctx, hierarchy, sub_ctx, sub_reports, max_tokens=5
    ).collect()}["p"]
    assert p2.mixed_context.startswith("Report p/")
    assert p2.context_tokens <= 5


def test_claim_context_block(spark, graph):
    nodes, edges, comm = graph
    deg = node_degrees(edges)
    claims = spark.createDataFrame(
        [("A", "X", "EVT_CLICK", "TRUE", "did click"),
         ("D", "Y", "EVT_VIEW", "TRUE", "did view")],
        "subject_id string, object_id string, claim_type string, status string, description string",
    )
    cctx = R.claim_context(claims, comm)
    got = {r.community: r for r in cctx.collect()}
    assert got["g1"].subject_id == "A" and got["g2"].subject_id == "D"
    ctx = R.community_local_context(
        R.node_context(nodes, deg, comm),
        R.edge_context(with_edge_rank(edges, deg), comm),
        claims_ctx=cctx,
    )
    rows = {r.community: r.context_string for r in ctx.collect()}
    assert "-----Claims-----" in rows["g1"]
    assert "A,EVT_CLICK,X" in rows["g1"]
    assert "D,EVT_VIEW,Y" in rows["g2"]
    assert "A,EVT_CLICK,X" not in rows["g2"]
