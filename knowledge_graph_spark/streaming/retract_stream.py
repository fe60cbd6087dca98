"""Structured-Streaming KG maintenance WITH DELETES (CDC-style).

``streaming/incremental.py`` folds arriving transcript partitions into
the node/edge tables but — like the reference's extract-stage union
(utils/graph.py:68-115) — only ever ADDS.  A production corpus also
receives deletes (user-data removal, contaminated-source takedowns),
and at 10^12-turn scale a delete must not re-run extraction.  This sink
keeps the per-chunk RECORD STREAM alongside the graph tables, so:

- insert batches stay cheap: build_graph on the micro-batch, graph
  union against the committed tables, and the batch's ``raw_records``
  land as ONE new record segment (append cost O(batch), never a
  rewrite of the accumulated records);
- delete batches (a stream of conv_ids) anti-join the accumulated
  record segments and re-run the MERGE ONLY (``merge.
  retract_conversations`` semantics): one conv-keyed anti-join + the
  standard name-keyed merge shuffle, extraction untouched.  The fold
  also compacts the record segments to the retained set, so segment
  count is bounded by inserts since the last delete.

Semantics note (documented contract): a delete REBASES the graph to the
canonical merged form — parse_and_merge over the retained records —
which drops the union's ``Old Information---/New Information---``
framing accumulated by earlier insert folds.  That is exactly the graph
a from-scratch rebuild on the retained corpus produces (the ``kg_
retract`` gate proves this equality cross-engine), and the framing is
presentation-layer provenance, not merge state.

Commit protocol mirrors streaming/incremental.py: every fold writes
fresh ``__v{k+1}`` / segment tables (never overwriting what it read),
then publishes with ONE marker write recording (version, the record
segment list, and per-lineage epochs — insert and delete queries are
separate streams with separate checkpoints, so each carries its own
lineage id).  Crash before the marker → replay redoes the fold from
v{k}; replay of a committed epoch is skipped.
"""

from __future__ import annotations

import json
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from ..io import TableIO
from ..operators.merge import incremental_union_edges, incremental_union_nodes
from ..operators.parse import parse_and_merge
from ..pipeline import PipelineConfig, build_graph
from .incremental import gc_graph_version
from .incremental import stream_transcripts  # noqa: F401  (re-export for callers)

DELETE_DDL = "conv_id string"

CDC_MARKER = "_stream/kg_cdc_commit.json"


def stream_deletes(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DELETE_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )


def _state(io: TableIO) -> dict | None:
    text = io.read_text(CDC_MARKER)
    return json.loads(text) if text is not None else None


def read_current_kg(io: TableIO, name: str) -> DataFrame:
    """Committed version of 'nodes' or 'edges' (marker-resolved, so a
    fold that crashed mid-write is invisible)."""
    state = _state(io)
    # version -1 means only no-op folds committed (e.g. a delete that
    # arrived before any insert recorded its epoch) — no graph exists yet
    if state is None or int(state["version"]) < 0:
        raise FileNotFoundError(f"no committed kg-cdc state under {io.base}")
    return io.read(f"{name}__v{state['version']}")


def _committed(state: dict | None, lineage: str, epoch_id: int) -> bool:
    if state is None:
        return False
    return int(epoch_id) <= int(state.get("epochs", {}).get(lineage, -1))


def _publish(
    io: TableIO,
    state: dict | None,
    lineage: str,
    epoch_id: int,
    version: int,
    segments: list[str],
    claim_segments: list[str] | None = None,
) -> None:
    epochs = dict((state or {}).get("epochs", {}))
    epochs[lineage] = int(epoch_id)
    if claim_segments is None:  # fold not maintaining claims: carry as-is
        claim_segments = list((state or {}).get("claim_segments", []))
    io.write_text(
        CDC_MARKER,
        json.dumps(
            {
                "version": version,
                "segments": segments,
                "claim_segments": claim_segments,
                "epochs": epochs,
            }
        ),
    )


def _fold_components(io: TableIO, version: int, warm_from: int | None) -> None:
    """Maintain ``components__v{version}`` from the just-written graph
    tables.  ``warm_from`` names a prior components version to seed
    ``connected_components(init_labels=...)`` — sound ONLY under
    monotone growth (insert folds), where the min-label fixpoint is
    init-independent, so the warm table is EXACTLY the from-scratch
    components while reconverging only the delta's neighborhood (the
    cc_warm gate + BENCH_SCALING.md's 9.1×/5.6× maintenance numbers).
    Delete folds must pass ``warm_from=None``: a delete can SPLIT a
    component, and stale merged labels are not a valid starting point
    for min-label propagation (labels may need to go UP)."""
    from ..operators.community import connected_components

    init = None
    # Explicit existence check, not a bare except around read(): a
    # transient I/O error must propagate (a silent cold restart would
    # break the maintained table's warm-chain contract with no signal);
    # only a genuinely absent prior (version predates maintenance)
    # legitimately falls back to cold.
    if warm_from is not None and io.exists(f"components__v{warm_from}"):
        init = io.read(f"components__v{warm_from}")
    comp = connected_components(
        io.read(f"nodes__v{version}"),
        io.read(f"edges__v{version}"),
        init_labels=init,
    )
    io.write(comp, f"components__v{version}")


PR_MAINT_COLD_ROUNDS = 10
PR_MAINT_WARM_ROUNDS = 3


def _fold_salience(io: TableIO, version: int, warm_from: int | None) -> None:
    """Maintain ``salience__v{version}`` (entity PageRank over the
    committed edges) from the just-written graph tables.  ``warm_from``
    names a prior salience version to seed ``pagerank_int(init_ranks=
    ...)``.  Unlike CC's min-label fixpoint, warm PR is an APPROXIMATION
    contract, not an equality: the table is "PR_MAINT_WARM_ROUNDS rounds
    from the prior scores" (new entities seeded at the cold scale//n),
    and power iteration contracts geometrically from any start, so a
    near-converged prior stays near converged while a cold restart would
    pay PR_MAINT_COLD_ROUNDS rounds per batch.  Warm is sound on BOTH
    insert and delete folds (any start converges — deleted entities fall
    out via the node-set join), unlike CC's insert-only warm start.
    Pytest contracts: exact replay of the warm chain (the CDC test), and
    warm-beats-cold-at-equal-budget on a skewed small-delta graph
    (test_graph_metrics.test_pagerank_warm_start_beats_cold_on_skewed_delta
    — on near-complete graphs whose converged ranks sit close to
    uniform, a cold uniform start can win instead)."""
    from ..operators.graphops import pagerank_int

    init = None
    # existence check, not bare except — see _fold_components
    if warm_from is not None and io.exists(f"salience__v{warm_from}"):
        init = io.read(f"salience__v{warm_from}")
    ranks = pagerank_int(
        io.read(f"edges__v{version}").select("source", "target"),
        iterations=PR_MAINT_WARM_ROUNDS if init is not None else PR_MAINT_COLD_ROUNDS,
        init_ranks=init,
        # a quiet batch's warm start is already at the integer fixpoint;
        # early_exit stops after the verification round instead of
        # spending the full budget (output bit-identical either way)
        early_exit=True,
    )
    io.write(ranks, f"salience__v{version}")


def _fold_claims(io: TableIO, version: int, claim_segments: list[str]) -> None:
    """Maintain ``claims__v{version}`` (the V1-V5 covariate table) from
    the accumulated PARSED-claim segments — the extraction-never-re-runs
    pattern applied to claims (VERDICT r4 #4): the per-turn claim EMIT
    (V1, the LLM seam) runs exactly once per conversation at insert
    time and lands as parsed rows in a ``claims__s*`` segment; this fold
    only re-runs the cheap merge tail (V4 groupBy subject + V5 ids)
    over the retained rows.  A delete therefore costs one conv-keyed
    anti-join + one |subjects|-sized groupBy, never a re-extraction.
    Alias linking (V3) is not applied here — the CDC sink maintains the
    pre-link covariates exactly like the batch job's alias_dict=None
    path; a maintained alias dictionary would slot in between segments
    and merge (reference verbs/covariates/extract_covariates.py:28-48).

    Flag semantics across runs: ``claims`` gates EXTRACTION on insert
    folds only — a conversation inserted while the flag was off has no
    claim segment and stays absent from the claims table after
    re-enabling (extraction never re-runs; rebuild from the batch job
    if completeness matters).  Deletes purge existing claim segments
    UNCONDITIONALLY (fold_delete_batch), so retraction is honored even
    across flag toggles.
    """
    from ..operators.claims import finalize_claims, merge_claims

    rows = None
    for seg in claim_segments:
        part = io.read(seg)
        rows = part if rows is None else rows.unionByName(part)
    if rows is None:
        return
    io.write(finalize_claims(merge_claims(rows)), f"claims__v{version}")


def _fold_changelog(io: TableIO, version: int) -> None:
    """Write ``changelog__v{version}`` — the edge-level diff of this fold
    against the previous committed version (temporal.kg_version_diff
    filtered to status <> 'same'), i.e. the CHANGE FEED a downstream
    consumer subscribes to instead of re-scanning the full edge table
    per version: added/removed edges and weight deltas only.  Version 0
    diffs against the empty graph, so the first changelog IS the first
    graph (all 'added').  One co-partitioned full-outer join per fold;
    the changelog is append-only history, so gc_graph_version does NOT
    collect it (bounded: O(delta) rows per fold, not O(graph))."""
    from ..operators.temporal import kg_version_diff

    new = io.read(f"edges__v{version}")
    if version > 0:
        old = io.read(f"edges__v{version - 1}")
    else:
        old = new.filter("1 = 0")
    diff = kg_version_diff(old, new).filter("status <> 'same'")
    io.write(diff, f"changelog__v{version}")


LPA_MAINT_COLD_ROUNDS = 10
LPA_MAINT_WARM_ROUNDS = 3


def _fold_communities(io: TableIO, version: int, warm_from: int | None) -> None:
    """Maintain ``communities__v{version}`` (weighted LPA labels) from
    the just-written graph tables.  Like salience (and unlike CC), this
    is a WARM-CHAIN contract, not a fixpoint equality: LPA's result
    depends on its start labels, so the maintained table is
    "LPA_MAINT_WARM_ROUNDS synchronous rounds from the prior labels"
    (new nodes self-label), exactly the ``lpa_warm`` gate's semantics —
    and on a stable graph a converged prior is a fixpoint, so quiet
    batches cost ~one verification round.  Warm on BOTH inserts and
    deletes (stale labels are a legal LPA start on any graph; the
    ``cluster_drift`` gate is the companion stability readout).  The
    distributed path is forced (local_threshold=0): the maintained
    table must have ONE deterministic definition, not flip between the
    driver-local and iterative-join twins with batch size."""
    from ..operators.community import label_propagation

    init = None
    # existence check, not bare except — see _fold_components
    if warm_from is not None and io.exists(f"communities__v{warm_from}"):
        init = io.read(f"communities__v{warm_from}")
    nodes = io.read(f"nodes__v{version}")
    edges = io.read(f"edges__v{version}")
    comm = label_propagation(
        nodes,
        edges,
        max_iter=LPA_MAINT_WARM_ROUNDS if init is not None else LPA_MAINT_COLD_ROUNDS,
        local_threshold=0,
        init_labels=init,
    )
    io.write(comm, f"communities__v{version}")


def fold_insert_batch(
    io: TableIO,
    batch_df: DataFrame,
    cfg: PipelineConfig,
    epoch_id: int,
    lineage: str = "insert",
    components: bool = False,
    salience: bool = False,
    communities: bool = False,
    changelog: bool = False,
    claims: bool = False,
) -> None:
    """Insert micro-batch: graph union + ONE new record segment.

    ``lineage`` identifies the STREAM (its checkpoint location in
    ``run_kg_cdc``); insert and delete folds must never share one — each
    stream numbers epochs independently, so a shared lineage would make
    a delete at epoch ≤ the last insert epoch look like a committed
    replay and be silently skipped.  The defaults are therefore distinct
    per fold.

    With ``components``, each fold also maintains a canonical-component
    table WARM-STARTED from the previous version's labels — the
    incremental canonicalization step, paying ~one verification round
    per batch instead of a full cold fixpoint (see _fold_components)."""
    state = _state(io)
    if _committed(state, lineage, epoch_id):
        return
    k = int(state["version"]) if state is not None else -1
    segments = list((state or {}).get("segments", []))
    stages = build_graph(batch_df, replace(cfg, persist_intermediate=True))
    records = stages["raw_records"].persist()
    new_nodes = stages["nodes"].persist()
    new_edges = stages["edges"].persist()
    seg = f"records__s{k + 1}"
    io.write(records, seg)
    if k >= 0:
        merged_nodes = incremental_union_nodes(io.read(f"nodes__v{k}"), new_nodes)
        merged_edges = incremental_union_edges(io.read(f"edges__v{k}"), new_edges)
    else:
        merged_nodes, merged_edges = new_nodes, new_edges
    io.write(merged_nodes, f"nodes__v{k + 1}")
    io.write(merged_edges, f"edges__v{k + 1}")
    if components:
        _fold_components(io, k + 1, warm_from=k if k >= 0 else None)
    if salience:
        _fold_salience(io, k + 1, warm_from=k if k >= 0 else None)
    if communities:
        _fold_communities(io, k + 1, warm_from=k if k >= 0 else None)
    if changelog:
        _fold_changelog(io, k + 1)
    claim_segments: list[str] | None = None
    if claims:
        from ..operators.claims import emit_claim_records, parse_claim_records

        cseg = f"claims__s{k + 1}"
        io.write(parse_claim_records(emit_claim_records(batch_df)), cseg)
        claim_segments = list((state or {}).get("claim_segments", [])) + [cseg]
        _fold_claims(io, k + 1, claim_segments)
    _publish(
        io, state, lineage, epoch_id, k + 1, segments + [seg],
        claim_segments=claim_segments,
    )
    for df in (records, new_nodes, new_edges, stages["split_records"]):
        df.unpersist()
    gc_graph_version(io, k - 1)


def fold_delete_batch(
    io: TableIO,
    batch_df: DataFrame,
    epoch_id: int,
    lineage: str = "delete",
    components: bool = False,
    salience: bool = False,
    communities: bool = False,
    changelog: bool = False,
    claims: bool = False,
) -> None:
    """Delete micro-batch (conv_ids): anti-join the record segments,
    re-merge, compact — extraction never re-runs.  See fold_insert_batch
    on why the default ``lineage`` must differ from the insert fold's.
    With ``components``, the component table is rebuilt COLD (a delete
    can split a component — warm labels are unsound here).  ``salience``
    stays WARM even on deletes: PR converges from any start, so the
    stale scores remain a valid (and close) seed."""
    state = _state(io)
    if _committed(state, lineage, epoch_id):
        return
    if state is None or not state.get("segments"):
        # nothing ingested yet — record the epoch so a replay skips
        _publish(io, state, lineage, epoch_id, int((state or {}).get("version", -1)), [])
        return
    k = int(state["version"])
    old_segments = list(state["segments"])
    records = None
    for seg in old_segments:
        part = io.read(seg)
        records = part if records is None else records.unionByName(part)
    # same retained-records semantics as merge.retract_conversations
    # (the kg_retract gate's op); spelled out here because the CDC fold
    # must WRITE the retained segment and re-merge from the written table
    deleted = batch_df.select("conv_id").distinct()
    kept = records.join(deleted, "conv_id", "left_anti").persist()
    compact = f"records__s{k + 1}c"
    io.write(kept, compact)
    sink: dict = {}
    nodes, edges = parse_and_merge(
        io.read(compact), persist_intermediate=True, records_out=sink
    )
    io.write(nodes, f"nodes__v{k + 1}")
    io.write(edges, f"edges__v{k + 1}")
    if components:
        _fold_components(io, k + 1, warm_from=None)
    if salience:
        _fold_salience(io, k + 1, warm_from=k)
    if communities:
        _fold_communities(io, k + 1, warm_from=k)
    if changelog:
        _fold_changelog(io, k + 1)
    claim_segments: list[str] | None = None
    old_claim_segments: list[str] = []
    # Purge claim segments whenever they EXIST, regardless of the
    # `claims` flag: a retraction must reach every persisted derivative
    # of the deleted conversation, or a later --claims run would re-fold
    # the retracted rows back into claims__v{k} (review finding).  The
    # flag only gates whether INSERT folds extract claims.
    if state.get("claim_segments"):
        old_claim_segments = list(state["claim_segments"])
        crows = None
        for cseg in old_claim_segments:
            part = io.read(cseg)
            crows = part if crows is None else crows.unionByName(part)
        ccompact = f"claims__s{k + 1}c"
        io.write(crows.join(deleted, "conv_id", "left_anti"), ccompact)
        claim_segments = [ccompact]
        _fold_claims(io, k + 1, claim_segments)
    _publish(
        io, state, lineage, epoch_id, k + 1, [compact],
        claim_segments=claim_segments,
    )
    kept.unpersist()
    sink["split_records"].unpersist()
    gc_graph_version(io, k - 1)
    for seg in old_segments + old_claim_segments:  # superseded by compacts
        try:
            io.delete(seg)
        except Exception:
            pass


def run_kg_cdc(
    spark: SparkSession,
    insert_dir: str,
    delete_dir: str | None,
    io: TableIO,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    components: bool = False,
    salience: bool = False,
    communities: bool = False,
    changelog: bool = False,
    claims: bool = False,
    max_files_per_trigger: int = 64,
):
    """Drain the insert stream, then (if delete_dir is given) the delete
    stream — availableNow triggers, sequential so a delete observes every
    insert that preceded it in the input directories.  Each query keeps
    its own checkpoint sublocation = its own lineage id.  ``components``
    additionally maintains ``components__v{k}`` per fold (warm-started
    on inserts, cold on deletes); ``salience`` maintains
    ``salience__v{k}`` (entity PageRank, warm-started on every fold —
    see _fold_salience); ``communities`` maintains ``communities__v{k}``
    (weighted LPA labels, warm-chained on every fold — see
    _fold_communities); ``changelog`` emits the per-fold edge change
    feed ``changelog__v{k}`` (see _fold_changelog); ``claims`` maintains
    the V1-V5 covariate table ``claims__v{k}`` from persisted
    parsed-claim segments (see _fold_claims — claim extraction runs once
    per conversation; deletes anti-join and re-merge only)."""
    cfg = cfg or PipelineConfig(chunk_size=128, chunk_overlap=16, tokenizer="ws")
    ins_ckpt = f"{checkpoint_dir}/inserts"
    q = (
        stream_transcripts(spark, insert_dir, max_files_per_trigger)
        .writeStream.foreachBatch(
            lambda df, e: fold_insert_batch(
                io, df, cfg, e, lineage=ins_ckpt, components=components,
                salience=salience, communities=communities,
                changelog=changelog, claims=claims,
            )
        )
        .option("checkpointLocation", ins_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if delete_dir is not None:
        del_ckpt = f"{checkpoint_dir}/deletes"
        q = (
            stream_deletes(spark, delete_dir)
            .writeStream.foreachBatch(
                lambda df, e: fold_delete_batch(
                    io, df, e, lineage=del_ckpt, components=components,
                    salience=salience, communities=communities,
                    changelog=changelog, claims=claims,
                )
            )
            .option("checkpointLocation", del_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
