"""CDC-style streaming KG maintenance with deletes (retract_stream).

Contract under test: an insert batch folds as a graph union (the
reference's G5 union) plus one appended record segment, a delete batch
rebases the graph to parse_and_merge over the retained record segments
— which must be BIT-IDENTICAL to a ground-up batch rebuild on the
retained transcripts (the same equality the batch ``kg_retract`` gate
proves cross-engine) — and the versioned-marker commit protocol
(streaming/commit.py) keeps replays idempotent.
"""

from __future__ import annotations

import datetime
import json

import pytest

from knowledge_graph_spark.io import TableIO
from knowledge_graph_spark.pipeline import PipelineConfig, build_graph
from knowledge_graph_spark.streaming import commit
from knowledge_graph_spark.streaming.commit import TRANSCRIPT_DDL
from knowledge_graph_spark.streaming.retract_stream import (
    CDC_MARKER,
    fold_delete_batch,
    fold_insert_batch,
    run_kg_cdc,
)

TS = datetime.datetime(2024, 1, 1)
CFG = PipelineConfig(chunk_size=64, chunk_overlap=8, tokenizer="ws")


def _batch(spark, conv, mentions):
    rows = [
        (conv, i, "user", f"{m} met {mentions[0]} here", "", TS + datetime.timedelta(minutes=i))
        for i, m in enumerate(mentions)
    ]
    return spark.createDataFrame(rows, TRANSCRIPT_DDL)


def _current(io, name):
    return commit.read_current(io, CDC_MARKER, name)


def _nodes_dict(df):
    return {r.title: r.asDict() for r in df.collect()}


def _edges_dict(df):
    return {(r.source, r.target): r.asDict() for r in df.collect()}


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_delete_equals_rebuild(spark, tmp_path):
    ins = str(tmp_path / "ins")
    dels = str(tmp_path / "dels")
    io = TableIO(spark, base=str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    b1 = _batch(spark, "c1", ["ALPHA", "BETA"])
    b2 = _batch(spark, "c2", ["ALPHA", "GAMMA"])
    b1.write.mode("append").parquet(ins)
    run_kg_cdc(spark, ins, None, io, ckpt, CFG)
    assert {"ALPHA", "BETA"} <= set(_nodes_dict(_current(io, "nodes")))

    # second insert wave, then retract c1
    b2.write.mode("append").parquet(ins)
    spark.createDataFrame([("c1",)], "conv_id string").write.mode("append").parquet(dels)
    run_kg_cdc(spark, ins, dels, io, ckpt, CFG)

    got_nodes = _nodes_dict(_current(io, "nodes"))
    got_edges = _edges_dict(_current(io, "edges"))
    assert "BETA" not in got_nodes  # only c1 mentioned BETA
    # the delete REBASES: bit-identical to a from-scratch build on c2
    stages = build_graph(b2, CFG)
    assert got_nodes == _nodes_dict(stages["nodes"])
    assert got_edges == _edges_dict(stages["edges"])

    # segments compacted to ONE retained segment after the delete
    state = json.loads(io.read_text(CDC_MARKER))
    assert len(state["segments"]) == 1 and state["segments"][0].endswith("c")

    # draining again with no new files is a no-op on both streams
    before = (got_nodes, got_edges)
    run_kg_cdc(spark, ins, dels, io, ckpt, CFG)
    after = (
        _nodes_dict(_current(io, "nodes")),
        _edges_dict(_current(io, "edges")),
    )
    assert before == after


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_replay_idempotence(spark, tmp_path):
    io = TableIO(spark, base=str(tmp_path / "wh"))
    fold_insert_batch(io, _batch(spark, "c1", ["ALPHA", "BETA"]), CFG, 0, lineage="ins")
    fold_insert_batch(io, _batch(spark, "c2", ["GAMMA"]), CFG, 1, lineage="ins")
    fold_delete_batch(io, spark.createDataFrame([("c1",)], "conv_id string"), 0, lineage="del")
    state0 = json.loads(io.read_text(CDC_MARKER))
    nodes0 = _nodes_dict(_current(io, "nodes"))
    assert set(nodes0) == _committed_titles(io)

    # replaying a COMMITTED epoch on either lineage is a no-op
    fold_insert_batch(io, _batch(spark, "c2", ["GAMMA"]), CFG, 1, lineage="ins")
    fold_delete_batch(io, spark.createDataFrame([("c1",)], "conv_id string"), 0, lineage="del")
    assert json.loads(io.read_text(CDC_MARKER)) == state0
    assert _nodes_dict(_current(io, "nodes")) == nodes0

    # a delete arriving before ANY insert just records its epoch — and
    # the marker's version=-1 must read as "no graph yet", not a crash
    io2 = TableIO(spark, base=str(tmp_path / "wh2"))
    fold_delete_batch(io2, spark.createDataFrame([("cX",)], "conv_id string"), 0, lineage="del")
    st = json.loads(io2.read_text(CDC_MARKER))
    assert st["epochs"]["del"] == 0 and st["segments"] == []
    with pytest.raises(FileNotFoundError):
        _current(io2, "nodes")
    # an insert folding AFTER that no-op delete starts cleanly at v0
    fold_insert_batch(io2, _batch(spark, "c9", ["OMEGA"]), CFG, 0, lineage="ins")
    assert "OMEGA" in _committed_titles(io2)


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_default_lineages_do_not_collide(spark, tmp_path):
    """Insert then delete via the DEFAULT lineage args: the delete's
    epoch 0 must not be mistaken for a replay of insert epoch 0 (the
    folds carry distinct default lineages)."""
    io = TableIO(spark, base=str(tmp_path / "wh"))
    fold_insert_batch(io, _batch(spark, "c1", ["ALPHA", "BETA"]), CFG, 0)
    fold_insert_batch(io, _batch(spark, "c2", ["GAMMA"]), CFG, 1)
    fold_delete_batch(io, spark.createDataFrame([("c1",)], "conv_id string"), 0)
    titles = _committed_titles(io)
    assert "BETA" not in titles and "GAMMA" in titles


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_gcs_superseded_versions(spark, tmp_path):
    """Storage stays O(graph): after three folds the v0 tables (two
    versions behind the marker) are gone, the committed version reads."""
    io = TableIO(spark, base=str(tmp_path / "wh"))
    names = {"c1": "BETA", "c2": "GAMMA", "c3": "DELTA"}
    for epoch, (conv, name) in enumerate(names.items()):
        fold_insert_batch(io, _batch(spark, conv, ["ALPHA", name]), CFG, epoch)
    state = json.loads(io.read_text(CDC_MARKER))
    assert state["version"] == 2
    assert {"BETA", "GAMMA", "DELTA"} <= _committed_titles(io)
    with pytest.raises(Exception):  # v0 was GC'd
        io.read("nodes__v0").collect()


def _committed_titles(io):
    return {r.title for r in _current(io, "nodes").collect()}


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_component_maintenance_matches_cold(spark, tmp_path):
    """components=True: every insert fold warm-starts CC from the prior
    version's labels, and init-independence means the streamed table
    must EQUAL a from-scratch connected_components on the committed
    graph; a delete that splits a component rebuilds cold and must
    track the split."""
    from knowledge_graph_spark.operators.community import connected_components

    io = TableIO(spark, base=str(tmp_path / "wh"))
    fold_insert_batch(
        io, _batch(spark, "c1", ["ALPHA", "BETA"]), CFG, 0, components=True
    )
    # c2 bridges into the c1 component via ALPHA; c3 is disjoint
    fold_insert_batch(
        io, _batch(spark, "c2", ["ALPHA", "GAMMA"]), CFG, 1, components=True
    )
    fold_insert_batch(
        io, _batch(spark, "c3", ["DELTA", "EPSILON"]), CFG, 2, components=True
    )
    comp = {
        r.title: r.component for r in _current(io, "components").collect()
    }
    cold = {
        r.title: r.component
        for r in connected_components(
            _current(io, "nodes"), _current(io, "edges")
        ).collect()
    }
    assert comp == cold
    assert comp["ALPHA"] == comp["GAMMA"] != comp["DELTA"]

    # retract c2: the bridge edge goes; cold rebuild must reflect it
    fold_delete_batch(
        io, spark.createDataFrame([("c2",)], "conv_id string"), 0, components=True
    )
    comp2 = {
        r.title: r.component for r in _current(io, "components").collect()
    }
    cold2 = {
        r.title: r.component
        for r in connected_components(
            _current(io, "nodes"), _current(io, "edges")
        ).collect()
    }
    assert comp2 == cold2
    assert "GAMMA" not in comp2  # only c2 mentioned GAMMA


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_components_flag_off_writes_no_table(spark, tmp_path):
    io = TableIO(spark, base=str(tmp_path / "wh"))
    fold_insert_batch(io, _batch(spark, "c1", ["ALPHA", "BETA"]), CFG, 0)
    with pytest.raises(Exception):
        io.read("components__v0").collect()


@pytest.mark.filterwarnings("ignore")
def test_kg_stream_job_cli_end_to_end_and_resume(spark, tmp_path):
    """jobs/run_kg_stream.py: drain inserts + deletes, then re-run with
    the same checkpoint — the second invocation must replay nothing."""
    import jobs.run_kg_stream as job

    ins, dels = str(tmp_path / "ins"), str(tmp_path / "dels")
    _batch(spark, "c1", ["ALPHA", "BETA"]).write.mode("append").parquet(ins)
    _batch(spark, "c2", ["ALPHA", "GAMMA"]).write.mode("append").parquet(ins)
    spark.createDataFrame([("c1",)], "conv_id string").write.mode("append").parquet(dels)
    argv = [
        "--inserts", ins, "--deletes", dels,
        "--output", str(tmp_path / "wh"), "--checkpoint", str(tmp_path / "ckpt"),
        "--chunk-size", "64", "--chunk-overlap", "8", "--components",
        "--salience", "--communities", "--changelog",
    ]
    assert job.main(argv) == 0
    io = TableIO(spark, base=str(tmp_path / "wh"))
    state1 = json.loads(io.read_text(CDC_MARKER))
    titles1 = _committed_titles(io)
    assert "BETA" not in titles1 and {"ALPHA", "GAMMA"} <= titles1
    # --components maintained the component table through insert + delete
    comp = {r.title for r in _current(io, "components").collect()}
    assert comp == titles1
    # the other maintained tables + the change feed rode the same folds
    assert {r.title for r in _current(io, "communities").collect()} == titles1
    sal = {r.title for r in _current(io, "salience").collect()}
    assert sal  # salience covers edge endpoints only (isolated nodes absent)
    assert sal <= titles1
    state_v = json.loads(io.read_text(CDC_MARKER))["version"]
    feed = {r.status for r in io.read(f"changelog__v{state_v}").collect()}
    assert feed and feed <= {"added", "removed", "changed"}

    assert job.main(argv) == 0  # resume: no new files, no new versions
    assert json.loads(io.read_text(CDC_MARKER)) == state1
    assert _committed_titles(io) == titles1


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_salience_maintenance_warm_tracks_converged(spark, tmp_path):
    """salience=True: the streamed PageRank table is 'PR_MAINT_WARM_ROUNDS
    rounds from the prior scores' per fold.  Three contracts: (1) exact
    replay — the committed table equals pagerank_int(final edges, warm
    rounds, init = cold ranks of the prior version's edges), proving the
    fold chained the right prior at the right round counts; (2) the node
    set tracks the committed edge endpoints through inserts AND a
    delete.  The quality claim (a warm start from a near-converged prior
    beats the same round budget spent cold from uniform on a SKEWED
    graph with a small delta) is operator-level, proven in
    test_graph_metrics.test_pagerank_warm_start_beats_cold_on_skewed_delta
    — the chunk co-mention graphs here are near-complete, so their
    converged ranks sit close to uniform and the property is vacuous at
    this fixture's scale."""
    from knowledge_graph_spark.operators.graphops import pagerank_int
    from knowledge_graph_spark.streaming.retract_stream import (
        PR_MAINT_COLD_ROUNDS,
        PR_MAINT_WARM_ROUNDS,
    )

    io = TableIO(spark, base=str(tmp_path / "wh"))
    # big skewed first batch (star around E0) so uniform is a BAD start,
    # then a small attached delta so the prior is a GOOD one
    fold_insert_batch(
        io, _batch(spark, "c1", [f"ENT{i}" for i in range(8)]), CFG, 0, salience=True
    )
    fold_insert_batch(
        io, _batch(spark, "c2", ["ENT0", "XNEW"]), CFG, 1, salience=True
    )
    sal = {r.title: r.rank_scaled for r in _current(io, "salience").collect()}
    edges = _current(io, "edges").select("source", "target").persist()
    endpoints = {
        r.t
        for r in edges.selectExpr("source AS t")
        .union(edges.selectExpr("target AS t"))
        .distinct()
        .collect()
    }
    assert set(sal) == endpoints

    # (1) exact replay of the two-fold chain
    prior = pagerank_int(
        io.read("edges__v0").select("source", "target"),
        iterations=PR_MAINT_COLD_ROUNDS,
    )
    replay = {
        r.title: r.rank_scaled
        for r in pagerank_int(
            edges, iterations=PR_MAINT_WARM_ROUNDS, init_ranks=prior
        ).collect()
    }
    assert sal == replay

    # (2) delete c2: XNEW leaves the graph; salience stays warm (any
    # start converges) and its node set must track the rebased edge set
    fold_delete_batch(
        io, spark.createDataFrame([("c2",)], "conv_id string"), 0, salience=True
    )
    sal2 = {r.title: r.rank_scaled for r in _current(io, "salience").collect()}
    e2 = _current(io, "edges").select("source", "target")
    endpoints2 = {
        r.t
        for r in e2.selectExpr("source AS t")
        .union(e2.selectExpr("target AS t"))
        .distinct()
        .collect()
    }
    assert set(sal2) == endpoints2
    assert "XNEW" not in sal2


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_salience_flag_off_writes_no_table(spark, tmp_path):
    io = TableIO(spark, base=str(tmp_path / "wh"))
    fold_insert_batch(io, _batch(spark, "c1", ["ALPHA", "BETA"]), CFG, 0)
    with pytest.raises(Exception):
        io.read("salience__v0").collect()


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_community_maintenance_replays_warm_chain(spark, tmp_path):
    """communities=True: the maintained table is the warm LPA chain —
    cold LPA_MAINT_COLD_ROUNDS on v0, then per fold
    LPA_MAINT_WARM_ROUNDS synchronous rounds from the prior labels
    (distributed path forced).  Exact replay pins the chaining; new
    nodes self-label and must appear."""
    from knowledge_graph_spark.operators.community import label_propagation
    from knowledge_graph_spark.streaming.retract_stream import (
        LPA_MAINT_COLD_ROUNDS,
        LPA_MAINT_WARM_ROUNDS,
    )

    io = TableIO(spark, base=str(tmp_path / "wh"))
    fold_insert_batch(
        io, _batch(spark, "c1", ["ALPHA", "BETA", "GAMMA"]), CFG, 0, communities=True
    )
    fold_insert_batch(
        io, _batch(spark, "c2", ["ALPHA", "XNEW"]), CFG, 1, communities=True
    )
    comm = {
        r.title: r.community for r in _current(io, "communities").collect()
    }
    prior = label_propagation(
        io.read("nodes__v0"),
        io.read("edges__v0"),
        max_iter=LPA_MAINT_COLD_ROUNDS,
        local_threshold=0,
    )
    replay = {
        r.title: r.community
        for r in label_propagation(
            io.read("nodes__v1"),
            io.read("edges__v1"),
            max_iter=LPA_MAINT_WARM_ROUNDS,
            local_threshold=0,
            init_labels=prior,
        ).collect()
    }
    assert comm == replay
    assert "XNEW" in comm


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_stream_path_threads_maintenance_flags(spark, tmp_path):
    """run_kg_cdc(salience=True, communities=True) through the REAL
    foreachBatch stream (not direct fold calls) must produce both
    maintained tables — guards the lambda plumbing between run_kg_cdc
    and the folds."""
    ins = str(tmp_path / "ins")
    _batch(spark, "c1", ["ALPHA", "BETA"]).write.mode("append").parquet(ins)
    _claim_batch(spark, "c2", [(1, "CLICK", 3)]).write.mode("append").parquet(ins)
    io = TableIO(spark, base=str(tmp_path / "wh"))
    run_kg_cdc(
        spark, ins, None, io, str(tmp_path / "ckpt"), CFG,
        salience=True, communities=True, claims=True,
    )
    assert _current(io, "salience").count() > 0
    assert _current(io, "communities").count() > 0
    assert _current(io, "claims").count() > 0


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_changelog_emits_exact_change_feed(spark, tmp_path):
    """changelog=True: every fold writes the edge diff vs the previous
    version (status <> 'same' only).  v0 is all-'added' and equals the
    first graph; an insert fold's feed is the step diff (checked against
    a kg_version_diff replay captured before the next fold); a delete
    fold emits 'removed'/'changed' rows for the retracted content; the
    feed is append-only history (v0 survives later folds and GC)."""
    from knowledge_graph_spark.operators.temporal import kg_version_diff

    io = TableIO(spark, base=str(tmp_path / "wh"))
    fold_insert_batch(
        io, _batch(spark, "c1", ["ALPHA", "BETA"]), CFG, 0, changelog=True
    )
    log0 = {(r.source, r.target): r.status for r in io.read("changelog__v0").collect()}
    e0 = {(r.source, r.target) for r in io.read("edges__v0").collect()}
    assert set(log0) == e0 and set(log0.values()) == {"added"}

    e0_rows = io.read("edges__v0")
    fold_insert_batch(
        io, _batch(spark, "c2", ["ALPHA", "GAMMA"]), CFG, 1, changelog=True
    )
    expect1 = {
        (r.source, r.target): r.status
        for r in kg_version_diff(e0_rows, io.read("edges__v1")).collect()
        if r.status != "same"
    }
    log1 = {(r.source, r.target): r.status for r in io.read("changelog__v1").collect()}
    assert log1 == expect1
    assert any(s == "added" for s in log1.values())  # GAMMA edges arrived

    e1_rows = io.read("edges__v1").collect()
    fold_delete_batch(
        io, spark.createDataFrame([("c2",)], "conv_id string"), 0, changelog=True
    )
    log2 = {(r.source, r.target): r.status for r in io.read("changelog__v2").collect()}
    gamma_edges = {
        (r.source, r.target) for r in e1_rows if "GAMMA" in (r.source, r.target)
    }
    assert gamma_edges and all(log2.get(k) == "removed" for k in gamma_edges)
    # append-only: the v0 feed is still readable after two more folds
    assert {
        (r.source, r.target) for r in io.read("changelog__v0").collect()
    } == e0


def _claim_batch(spark, conv, items):
    """Transcript batch whose turns match the planted claim grammar
    (USER_x saw EVT_y on ITEM_z) plus one non-claim turn."""
    rows = [
        (
            conv,
            i,
            "user",
            f"USER_{u} saw EVT_{e} on ITEM_{it} during the session",
            "",
            TS + datetime.timedelta(minutes=i),
        )
        for i, (u, e, it) in enumerate(items)
    ]
    rows.append((conv, len(items), "assistant", "no claim here", "", TS))
    return spark.createDataFrame(rows, TRANSCRIPT_DDL)


def _claims_dict(df):
    return {r.subject_id: r.asDict() for r in df.collect()}


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_claims_delete_equals_rebuild(spark, tmp_path):
    """VERDICT r4 #4: the CDC-maintained claims table after inserts + a
    delete is BIT-IDENTICAL to the batch V1-V5 chain run from scratch on
    the retained transcripts — claim extraction ran once per
    conversation, the delete only anti-joined the parsed segments and
    re-ran the merge tail (retract_stream._fold_claims)."""
    from knowledge_graph_spark.operators.claims import extract_claims

    io = TableIO(spark, base=str(tmp_path / "wh"))
    b1 = _claim_batch(spark, "c1", [(1, "CLICK", 3), (1, "VIEW", 4), (2, "CLICK", 3)])
    b2 = _claim_batch(spark, "c2", [(1, "CLICK", 3), (3, "BUY", 5)])
    fold_insert_batch(io, b1, CFG, 0, lineage="ins", claims=True)
    fold_insert_batch(io, b2, CFG, 1, lineage="ins", claims=True)

    # after both inserts: claims == batch chain over c1 ∪ c2
    got = _claims_dict(_current(io, "claims"))
    want = _claims_dict(extract_claims(b1.unionByName(b2)))
    assert got == want and {"USER_1", "USER_2", "USER_3"} <= set(got)

    # delete c1 → claims rebased to the batch chain over c2 alone
    fold_delete_batch(
        io, spark.createDataFrame([("c1",)], "conv_id string"), 0, lineage="del"
    )
    got = _claims_dict(_current(io, "claims"))
    want = _claims_dict(extract_claims(b2))
    assert got == want
    assert "USER_2" not in got  # only c1 carried USER_2's claim

    # segments compacted to ONE retained claim segment; replaying the
    # committed delete epoch is a no-op
    state = json.loads(io.read_text(CDC_MARKER))
    assert len(state["claim_segments"]) == 1
    assert state["claim_segments"][0].endswith("c")
    fold_delete_batch(
        io, spark.createDataFrame([("c1",)], "conv_id string"), 0, lineage="del"
    )
    assert json.loads(io.read_text(CDC_MARKER)) == state


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_claims_flag_off_writes_no_table(spark, tmp_path):
    io = TableIO(spark, base=str(tmp_path / "wh"))
    fold_insert_batch(io, _claim_batch(spark, "c1", [(1, "CLICK", 3)]), CFG, 0, lineage="ins")
    assert not io.exists("claims__v0")
    state = json.loads(io.read_text(CDC_MARKER))
    assert state["claim_segments"] == []


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_claims_table_survives_insert_fold_with_claims_off(spark, tmp_path):
    """An insert fold with claims off after one with claims on: the flag
    only gates extraction, so the committed version still has a claims
    table, equal to the batch chain over the claim-extracted batch."""
    from knowledge_graph_spark.operators.claims import extract_claims

    io = TableIO(spark, base=str(tmp_path / "wh"))
    b1 = _claim_batch(spark, "c1", [(1, "CLICK", 3)])
    fold_insert_batch(io, b1, CFG, 0, lineage="ins", claims=True)
    fold_insert_batch(io, _claim_batch(spark, "c2", [(2, "VIEW", 4)]), CFG, 1, lineage="ins")
    state = json.loads(io.read_text(CDC_MARKER))
    assert state["version"] == 1 and state["claim_segments"] == ["claims__s0"]
    assert _claims_dict(_current(io, "claims")) == _claims_dict(extract_claims(b1))


@pytest.mark.filterwarnings("ignore")
def test_kg_cdc_claims_purged_on_delete_even_without_flag(spark, tmp_path):
    """Review finding: retraction must reach the persisted claim
    segments even when the run that deletes has claims off (the delete
    fold takes no claims flag) — otherwise a later --claims run would
    re-fold the retracted conversation's rows back into the claims
    table."""
    from knowledge_graph_spark.operators.claims import extract_claims

    io = TableIO(spark, base=str(tmp_path / "wh"))
    b1 = _claim_batch(spark, "c1", [(1, "CLICK", 3)])
    b2 = _claim_batch(spark, "c2", [(2, "VIEW", 4)])
    fold_insert_batch(io, b1, CFG, 0, lineage="ins", claims=True)
    fold_insert_batch(io, b2, CFG, 1, lineage="ins", claims=True)
    # delete WITHOUT the flag — segments must still be purged
    fold_delete_batch(
        io, spark.createDataFrame([("c1",)], "conv_id string"), 0, lineage="del"
    )
    state = json.loads(io.read_text(CDC_MARKER))
    assert len(state["claim_segments"]) == 1
    assert state["claim_segments"][0].endswith("c")
    # the claims table at the committed version reflects the retraction
    got = _claims_dict(_current(io, "claims"))
    assert got == _claims_dict(extract_claims(b2))
    assert "USER_1" not in got
    # and a later claims=True insert fold sees only retained + new rows
    b3 = _claim_batch(spark, "c3", [(3, "BUY", 5)])
    fold_insert_batch(io, b3, CFG, 2, lineage="ins", claims=True)
    got = _claims_dict(_current(io, "claims"))
    assert got == _claims_dict(extract_claims(b2.unionByName(b3)))
