"""Recorded-response LLM-backend replay (VERDICT r3 #5).

Drives the reference's LLM extraction dataflow — per-chunk prompt,
CONTINUE gleaning rounds, YES/NO LOOP probe, response accumulation
(reference graph_extractor.py:121-176) — end-to-end through the batched
``mapInPandas``/``pandas_udf`` extraction path WITHOUT a network: canned
responses keyed by prompt hash, exactly what a recording proxy would
capture from one real run.

What this proves that the unit suite didn't: the Arrow-batched seam
feeds each chunk's prompt chain in order and reassembles per-row
responses correctly (batching/ordering), and the downstream
parse→merge→summarize→report tail consumes an *LLM-shaped* (multi-round
accumulated) response stream identically to the single-shot rule
backend.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from knowledge_graph_spark.operators.extract import (
    COMPLETION,
    GleaningBackend,
    RecordedBackend,
    emit_records,
    record_gleaning_fixture,
)

TEXTS = [
    "ACME CORP met BOB_SMITH in PARIS about the Q3 plan with XY.",
    "no entities here at all",
    "",
    "ACME CORP and ACME CORP again, plus ZZ and XY and BOB_SMITH.",
    "Only a weak pair: XY QQ",
]


def test_replay_reproduces_gleaning_byte_identical():
    """For every chunk, replaying the recorded per-round responses
    through the reference's accumulate/probe loop yields GleaningBackend
    output byte-for-byte — the fixture is a faithful recording."""
    for gleanings in (0, 1, 2):
        fix = record_gleaning_fixture(TEXTS, max_gleanings=gleanings)
        rec = RecordedBackend(fix, max_gleanings=gleanings)
        ref = GleaningBackend(max_gleanings=gleanings)
        for t in TEXTS:
            if t == "":
                assert rec._one(t) == COMPLETION == ref._one(t)
            else:
                assert rec._one(t) == ref._one(t), (gleanings, t)


def test_strict_replay_raises_on_unrecorded_prompt():
    fix = record_gleaning_fixture(TEXTS[:1], max_gleanings=1)
    rec = RecordedBackend(fix, max_gleanings=1)
    with pytest.raises(KeyError):
        rec._one("UNRECORDED TEXT WITH NEWTOKEN")
    # non-strict degrades to the reference's drop-the-doc error path
    loose = RecordedBackend(fix, max_gleanings=1, strict=False)
    assert loose._one("UNRECORDED TEXT WITH NEWTOKEN") == COMPLETION


def test_nonstrict_missing_glean_round_drops_doc():
    """A chunk whose round-0 response IS recorded but whose CONTINUE
    round is missing degrades to the bare completion marker in
    non-strict mode — the reference's per-document error path drops the
    whole doc (graph_extractor.py:105-107), never a partial round.
    Regression for the round-4 ADVICE low: _invoke must raise so
    _one's non-strict handler actually fires mid-chain."""
    t = TEXTS[0]
    fix = record_gleaning_fixture([t], max_gleanings=0)  # round-0 key only
    loose = RecordedBackend(fix, max_gleanings=1, strict=False)
    assert loose._one(t) == COMPLETION
    strict = RecordedBackend(fix, max_gleanings=1, strict=True)
    with pytest.raises(KeyError):
        strict._one(t)


def test_probe_gates_second_continue_round():
    """With max_gleanings=2, a chunk whose first gleaning round finds
    nothing must answer NO at the probe and never consume a second
    CONTINUE response (the reference's early loop exit)."""
    t = "ACME CORP alone"  # primary match only; glean finds nothing new
    fix = record_gleaning_fixture([t], max_gleanings=2)
    calls = []
    rec = RecordedBackend(fix, max_gleanings=2)
    orig = rec._invoke

    def spy(messages):
        calls.append(messages[0]["content"][:12])
        return orig(messages)

    rec._invoke = spy
    out = rec._one(t)
    assert out == GleaningBackend(max_gleanings=2)._one(t)
    # round0 + CONTINUE + LOOP probe (NO) — no second CONTINUE
    assert len(calls) == 3


@pytest.fixture(scope="module")
def recorded_e2e(spark):
    """Full extract→parse→merge run at sf0.001 through RecordedBackend
    (max_gleanings=1), with the fixture recorded from the deterministic
    simulator over the actual chunk corpus."""
    from knowledge_graph_spark.operators.chunk import split_text_units
    from knowledge_graph_spark.operators.assemble import assemble_conversations
    from knowledge_graph_spark.operators.parse import parse_and_merge
    from knowledge_graph_spark.synth import transcripts_from_events

    tr = transcripts_from_events(spark, "/root/testdata/sf0.001")
    units = split_text_units(
        assemble_conversations(tr), size=1200, overlap=100, tokenizer="ws"
    ).localCheckpoint(eager=True)
    chunks = [r["chunk"] for r in units.select("chunk").collect()]
    fix = record_gleaning_fixture(chunks, max_gleanings=1)
    recorded = emit_records(units, backend=RecordedBackend(fix, max_gleanings=1))
    nodes, edges = parse_and_merge(recorded)
    return units, nodes.localCheckpoint(eager=True), edges.localCheckpoint(eager=True)


def test_e2e_recorded_equals_gleaning_pipeline(spark, recorded_e2e):
    """The recorded-replay pipeline's merged graph is bit-equal to the
    GleaningBackend-driven one — the LLM seam (batched UDF + multi-round
    accumulation) introduces no reordering or loss."""
    from knowledge_graph_spark.operators.parse import parse_and_merge

    units, nodes_r, edges_r = recorded_e2e
    nodes_g, edges_g = parse_and_merge(
        emit_records(units, backend=GleaningBackend(max_gleanings=1))
    )
    assert nodes_r.exceptAll(nodes_g).count() == 0
    assert nodes_g.exceptAll(nodes_r).count() == 0
    assert edges_r.exceptAll(edges_g).count() == 0
    assert edges_g.exceptAll(edges_r).count() == 0
    assert nodes_r.count() > 0 and edges_r.count() > 0


def test_e2e_recorded_summarize_reports_tail(spark, recorded_e2e):
    """The deterministic tail (summarize → degrees/rank → LPA →
    context → reports) runs end-to-end on the recorded-replay graph and
    produces well-formed reports — closing the last untested reference
    code path (LLM dataflow feeding D1/R13) without a network."""
    from knowledge_graph_spark.operators.community import label_propagation
    from knowledge_graph_spark.operators.graphops import node_degrees, with_edge_rank
    from knowledge_graph_spark.operators.reports import (
        community_local_context,
        edge_context,
        node_context,
        render_reports,
    )
    from knowledge_graph_spark.operators.summarize import summarize_descriptions

    _units, nodes, edges = recorded_e2e
    nodes_s = summarize_descriptions(nodes, "title", "description").withColumn(
        "description", F.col("summary")
    )
    deg = node_degrees(edges)
    comm = label_propagation(nodes, edges)
    nctx = node_context(nodes_s, deg, comm)
    ectx = edge_context(with_edge_rank(edges, deg), comm)
    ctx = community_local_context(nctx, ectx, top_k=10)
    reports = render_reports(ctx)
    rows = reports.collect()
    assert len(rows) > 0
    cols = set(reports.columns)
    assert {"community", "full_content"} <= cols
