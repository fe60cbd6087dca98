"""Structured-Streaming KG maintenance with inserts AND deletes (CDC).

The reference's incremental story is the extract-stage graph union
(utils/graph.py:68-115), which only ever ADDS.  A production corpus
also receives deletes (user-data removal, contaminated-source
takedowns), and at 10^12-turn scale a delete must not re-run
extraction.  This sink keeps the per-chunk RECORD STREAM alongside the
graph tables, so:

- insert batches stay cheap: build_graph on the micro-batch, graph
  union against the committed tables, and the batch's ``raw_records``
  land as ONE new record segment (append cost O(batch), never a
  rewrite of the accumulated records);
- delete batches (a stream of conv_ids) anti-join the accumulated
  record segments and re-run the MERGE ONLY (``merge.retained``, the
  same anti-join as ``merge.retract_conversations``) — extraction
  untouched.  The fold also compacts the record segments to the
  retained set, so segment count is bounded by inserts since the last
  delete.

Semantics note (documented contract): a delete REBASES the graph to the
canonical merged form — parse_and_merge over the retained records —
which drops the union's ``Old Information---/New Information---``
framing accumulated by earlier insert folds.  That is exactly the graph
a from-scratch rebuild on the retained corpus produces (the ``kg_
retract`` gate proves this equality cross-engine), and the framing is
presentation-layer provenance, not merge state.

Assumption (documented contract): conversations arrive atomically — all
turns of a conv_id land in one micro-batch.  Cross-batch conversation
stitching would need a session-window + watermark aggregation
(``stateful.turn_counts`` shows the watermark pattern).

Commit protocol: ``streaming/commit.py``.  Every fold writes fresh
``__v{k+1}`` / segment tables, then publishes them with ONE marker write
recording the version, the record and claim segment lists and the
per-lineage epochs — insert and delete queries are separate streams
with separate checkpoints, so each carries its own lineage id.
"""

from __future__ import annotations

from dataclasses import replace
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from ..io import TableIO
from ..operators.merge import (
    incremental_union_edges,
    incremental_union_nodes,
    retained,
)
from ..operators.parse import parse_and_merge
from ..pipeline import PipelineConfig, build_graph
from . import commit

DELETE_DDL = "conv_id string"

CDC_MARKER = "_stream/kg_cdc_commit.json"

# the versioned tables a fold writes; version GC collects these (the
# changelog is append-only history and stays)
CDC_TABLES = ("nodes", "edges", "components", "salience", "communities", "claims")


def stream_deletes(spark: SparkSession, input_dir: str) -> DataFrame:
    return commit.file_stream(spark, DELETE_DDL, input_dir)


def _publish(
    io: TableIO,
    state: dict,
    lineage: str,
    epoch_id: int,
    version: int,
    segments: list[str],
    claim_segments: list[str],
) -> None:
    commit.publish(
        io, CDC_MARKER, state, lineage, epoch_id, version,
        segments=segments, claim_segments=claim_segments,
    )


def _read_segments(io: TableIO, names: list[str]) -> DataFrame:
    """Union of the (non-empty) list of segment tables."""
    return reduce(DataFrame.unionByName, (io.read(n) for n in names))


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
    if completeness matters).  Every fold refreshes the table whenever
    claim segments exist, whatever its flag, and deletes purge the
    segments unconditionally, so the table exists at every committed
    version once claims were extracted and retraction is honored across
    flag toggles.
    """
    from ..operators.claims import finalize_claims, merge_claims

    rows = _read_segments(io, claim_segments)
    io.write(finalize_claims(merge_claims(rows)), f"claims__v{version}")


def _fold_changelog(io: TableIO, version: int) -> None:
    """Write ``changelog__v{version}`` — the edge-level diff of this fold
    against the previous committed version (temporal.kg_version_diff
    filtered to status <> 'same'), i.e. the CHANGE FEED a downstream
    consumer subscribes to instead of re-scanning the full edge table
    per version: added/removed edges and weight deltas only.  Version 0
    diffs against the empty graph, so the first changelog IS the first
    graph (all 'added').  One co-partitioned full-outer join per fold;
    the changelog is append-only history, so version GC (CDC_TABLES)
    does NOT collect it (bounded: O(delta) rows per fold, not O(graph))."""
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


def _commit_fold(
    io: TableIO,
    state: dict,
    lineage: str,
    epoch_id: int,
    nodes: DataFrame,
    edges: DataFrame,
    segments: list[str],
    claim_segments: list[str],
    persisted: list[DataFrame],
    superseded: list[str],
    warm_components: bool,
    components: bool,
    salience: bool,
    communities: bool,
    changelog: bool,
) -> None:
    """The tail both folds share: write version k+1 of the graph and the
    maintained tables, publish it, then release the fold's caches and
    collect version k-1 and the ``superseded`` segments."""
    k = state["version"]
    prior = k if k >= 0 else None
    io.write(nodes, f"nodes__v{k + 1}")
    io.write(edges, f"edges__v{k + 1}")
    if components:
        _fold_components(io, k + 1, warm_from=prior if warm_components else None)
    if salience:
        _fold_salience(io, k + 1, warm_from=prior)
    if communities:
        _fold_communities(io, k + 1, warm_from=prior)
    if changelog:
        _fold_changelog(io, k + 1)
    if claim_segments:
        _fold_claims(io, k + 1, claim_segments)
    _publish(io, state, lineage, epoch_id, k + 1, segments, claim_segments)
    for df in persisted:
        df.unpersist()
    commit.gc(io, CDC_TABLES, k - 1)
    for seg in superseded:
        io.delete(seg)


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
    """Insert micro-batch: graph union + ONE new record segment (and,
    with ``claims``, one parsed-claim segment).

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
    state = commit.state(io, CDC_MARKER)
    if commit.committed(state, lineage, epoch_id):
        return
    k = state["version"]
    stages = build_graph(batch_df, replace(cfg, persist_intermediate=True))
    records = stages["raw_records"].persist()
    new_nodes = stages["nodes"].persist()
    new_edges = stages["edges"].persist()
    seg = f"records__s{k + 1}"
    io.write(records, seg)
    if k >= 0:
        nodes = incremental_union_nodes(io.read(f"nodes__v{k}"), new_nodes)
        edges = incremental_union_edges(io.read(f"edges__v{k}"), new_edges)
    else:
        nodes, edges = new_nodes, new_edges
    claim_segments = list(state.get("claim_segments", []))
    if claims:
        from ..operators.claims import emit_claim_records, parse_claim_records

        cseg = f"claims__s{k + 1}"
        io.write(parse_claim_records(emit_claim_records(batch_df)), cseg)
        claim_segments.append(cseg)
    _commit_fold(
        io, state, lineage, epoch_id, nodes, edges,
        segments=state.get("segments", []) + [seg],
        claim_segments=claim_segments,
        persisted=[records, new_nodes, new_edges, stages["split_records"]],
        superseded=[],
        warm_components=True,
        components=components, salience=salience,
        communities=communities, changelog=changelog,
    )


def fold_delete_batch(
    io: TableIO,
    batch_df: DataFrame,
    epoch_id: int,
    lineage: str = "delete",
    components: bool = False,
    salience: bool = False,
    communities: bool = False,
    changelog: bool = False,
) -> None:
    """Delete micro-batch (conv_ids): anti-join the record segments,
    re-merge, compact — extraction never re-runs.  See fold_insert_batch
    on why the default ``lineage`` must differ from the insert fold's.
    With ``components``, the component table is rebuilt COLD (a delete
    can split a component — warm labels are unsound here).  ``salience``
    stays WARM even on deletes: PR converges from any start, so the
    stale scores remain a valid (and close) seed.  Claim segments are
    purged whenever they exist: a retraction must reach every persisted
    derivative of the deleted conversation, or a later claims run would
    re-fold the retracted rows back into the claims table."""
    state = commit.state(io, CDC_MARKER)
    if commit.committed(state, lineage, epoch_id):
        return
    if not state.get("segments"):
        # nothing ingested yet — record the epoch so a replay skips
        _publish(io, state, lineage, epoch_id, state["version"], [], [])
        return
    k = state["version"]
    # the CDC fold WRITES the retained segment and re-merges from the
    # written table, so a replay after a crash reads the same records
    kept = retained(_read_segments(io, state["segments"]), batch_df).persist()
    compact = f"records__s{k + 1}c"
    io.write(kept, compact)
    sink: dict = {}
    nodes, edges = parse_and_merge(
        io.read(compact), persist_intermediate=True, records_out=sink
    )
    old_claim_segments = state.get("claim_segments", [])
    claim_segments = []
    if old_claim_segments:
        ccompact = f"claims__s{k + 1}c"
        io.write(retained(_read_segments(io, old_claim_segments), batch_df), ccompact)
        claim_segments = [ccompact]
    _commit_fold(
        io, state, lineage, epoch_id, nodes, edges,
        segments=[compact],
        claim_segments=claim_segments,
        persisted=[kept, sink["split_records"]],
        superseded=state["segments"] + old_claim_segments,
        warm_components=False,
        components=components, salience=salience,
        communities=communities, changelog=changelog,
    )


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
    feed ``changelog__v{k}`` (see _fold_changelog); ``claims`` extracts
    parsed-claim segments on insert folds, from which every fold
    maintains the V1-V5 covariate table ``claims__v{k}`` (see
    _fold_claims — claim extraction runs once per conversation; deletes
    anti-join and re-merge only)."""
    cfg = cfg or PipelineConfig(chunk_size=128, chunk_overlap=16, tokenizer="ws")
    maintain = dict(
        components=components, salience=salience,
        communities=communities, changelog=changelog,
    )
    ins_ckpt = f"{checkpoint_dir}/inserts"
    # the folds resolve through the module globals at call time
    commit.drain(
        commit.file_stream(
            spark, commit.TRANSCRIPT_DDL, insert_dir, max_files_per_trigger
        ),
        lambda df, e: fold_insert_batch(
            io, df, cfg, e, lineage=ins_ckpt, claims=claims, **maintain
        ),
        ins_ckpt,
    )
    if delete_dir is not None:
        del_ckpt = f"{checkpoint_dir}/deletes"
        commit.drain(
            stream_deletes(spark, delete_dir),
            lambda df, e: fold_delete_batch(io, df, e, lineage=del_ckpt, **maintain),
            del_ckpt,
        )
