"""End-to-end pipeline composition: transcripts → knowledge graph tables.

Mirrors the reference's indexing workflow (reference
workflow/build_workflow.py:20-83, SURVEY.md §3.1) as ONE ordered list of
stages, ``STAGES``:

    transcripts, repartitioned by conv_id once          (``source``)
      →(groupBy conv_id)→            conv_docs            (assemble)
      →(chunk UDF + explode)→        text_units           (chunk)
      →(vectorized backend)→         raw_records          (extract)
      →(one parse + salted merge)→   nodes, edges         (parse)
      →(explode + count)→            degrees              (graphops)
      →(summaries + ids)→            nodes_final, edges_final
      →(hierarchical LPA)→           communities_leveled, communities,
                                     community_hierarchy  (community)
    transcripts →                    claims, tool_transitions, turn_latency
      → community_reports (leveled, with claims)

Each stage is a plain record: its name, the tables it reads, a make
function over those tables and the config, and the columns its
checkpointed copy is bucketed on.  Two evaluators walk the list:
``build_graph`` evaluates the graph prefix (``GRAPH_STAGES``) lazily for
the gates, the bench and the CDC folds, and ``jobs/run_pipeline.py``
runs every stage through ``checkpoint.StageRunner``.

Placement: one width, ``partitioning.shuffle_width`` (the session's
``spark.sql.shuffle.partitions``), places both the transcripts and the
checkpointed graph tables.  ``source`` repartitions the transcripts by
conv_id at that width, and nothing else repartitions.  That one exchange
already satisfies the assembly groupBy, and AQE does not coalesce an
explicit repartition, so the chunk and extraction UDFs run that many
tasks although conversation text is small in bytes (AQE's byte-based
coalescing once collapsed a 4M-turn run to ~3 tasks).  The claims and
agent-trace stages key on conv_id too and read the same placement.
``StageRunner`` buckets ``nodes`` on title and ``edges`` on source into
the same number of buckets, so a title-keyed join against a frame
grouped by title sees ``hashpartitioning(title, n)`` on both sides and
adds no exchange, and a bucketed scan of either table runs n tasks, not
a fixed count.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.agent_trace import tool_transitions, turn_latency
from .operators.assemble import assemble_conversations
from .operators.chunk import split_text_units
from .operators.claims import extract_claims
from .operators.community import hierarchical_lpa
from .operators.extract import emit_records
from .operators.graphops import node_degrees, with_edge_ids, with_edge_rank, with_node_ids
from .operators.parse import parse_and_merge
from .operators.reports import community_hierarchy, leveled_reports
from .operators.summarize import summarize_descriptions
from .partitioning import shuffle_width

SOURCE = "transcripts"


@dataclass
class PipelineConfig:
    chunk_size: int = 1200  # reference config.py:17
    chunk_overlap: int = 100  # reference config.py:18
    tokenizer: str = "auto"
    max_cluster_size: int = 10  # reference leiden.py:13
    # cache the exploded record table that nodes and edges both branch
    # from: the merge scans it ~19 times (entity parse, relationship
    # parse, endpoint auto-create, ordinal joins) — measured ~4.5s → ~1s
    # for the nodes materialization at sf0.1.  The cached frame is
    # returned as ``split_records`` so the caller can release it.
    persist_intermediate: bool = False


@dataclass(frozen=True)
class Stage:
    name: str
    inputs: tuple[str, ...]
    make: Callable[[dict, PipelineConfig], DataFrame]
    bucket_by: tuple[str, ...] = ()


def source(transcripts: DataFrame) -> dict[str, DataFrame]:
    """The tables an evaluation starts from: the transcripts, placed by
    conversation (see the module docstring)."""
    n = shuffle_width(transcripts.sparkSession)
    return {SOURCE: transcripts.repartition(n, "conv_id")}


def _parsed(t: dict, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """nodes and edges branch from one parse of raw_records: the first of
    the two stages runs it and leaves it in ``t`` for the second."""
    if "_parsed" not in t:
        t["_parsed"] = parse_and_merge(
            t["raw_records"], persist_intermediate=cfg.persist_intermediate, records_out=t
        )
    return t["_parsed"]


def _edges_final(t: dict, cfg: PipelineConfig) -> DataFrame:
    ranked = with_edge_rank(t["edges"], t["degrees"])
    pair = F.concat_ws("->", "source", "target")
    summarized = summarize_descriptions(ranked.withColumn("pair", pair), title_col="pair")
    return with_edge_ids(summarized.drop("pair"))


GRAPH_STAGES = (
    Stage("conv_docs", (SOURCE,), lambda t, cfg: assemble_conversations(t[SOURCE])),
    Stage(
        "text_units",
        ("conv_docs",),
        lambda t, cfg: split_text_units(
            t["conv_docs"], size=cfg.chunk_size, overlap=cfg.chunk_overlap, tokenizer=cfg.tokenizer
        ),
    ),
    Stage("raw_records", ("text_units",), lambda t, cfg: emit_records(t["text_units"])),
    # nodes/edges are bucketed on their join keys: every later title-keyed
    # equi-join against another bucketed table — including after a
    # fresh-session resume — skips its Exchange
    # (tests/test_physical_plans.py, tests/test_checkpoint_resume.py)
    Stage("nodes", ("raw_records",), lambda t, cfg: _parsed(t, cfg)[0], ("title",)),
    Stage("edges", ("raw_records",), lambda t, cfg: _parsed(t, cfg)[1], ("source",)),
    Stage("degrees", ("edges",), lambda t, cfg: node_degrees(t["edges"])),
)

STAGES = GRAPH_STAGES + (
    Stage(
        "nodes_final",
        ("nodes", "degrees"),
        lambda t, cfg: with_node_ids(
            summarize_descriptions(t["nodes"].join(t["degrees"], "title", "left"))
        ),
    ),
    Stage("edges_final", ("edges", "degrees"), _edges_final),
    Stage(
        "communities_leveled",
        ("nodes", "edges"),
        lambda t, cfg: hierarchical_lpa(
            t["nodes"], t["edges"], max_cluster_size=cfg.max_cluster_size
        ),
    ),
    # level 0 of the hierarchy is label_propagation over the full graph
    # with the same defaults, so the flat table is a projection of it
    Stage(
        "communities",
        ("communities_leveled",),
        lambda t, cfg: t["communities_leveled"]
        .filter(F.col("level") == 0)
        .select("title", "community"),
    ),
    Stage(
        "community_hierarchy",
        ("communities_leveled",),
        lambda t, cfg: community_hierarchy(t["communities_leveled"]),
    ),
    Stage("claims", (SOURCE,), lambda t, cfg: extract_claims(t[SOURCE])),
    # agent-trace views: tool-call Markov transitions and the
    # per-conversation response-latency profile (exact int64 micros)
    Stage("tool_transitions", (SOURCE,), lambda t, cfg: tool_transitions(t[SOURCE])),
    Stage("turn_latency", (SOURCE,), lambda t, cfg: turn_latency(t[SOURCE])),
    # hierarchical reports: level-ordered, deepest first, oversized
    # parents substituting sub-community report summaries (R11/R12) —
    # the reference's headline flow (pre_community_report_context.py)
    Stage(
        "community_reports",
        ("nodes", "edges", "degrees", "communities_leveled", "claims"),
        lambda t, cfg: leveled_reports(
            t["nodes"],
            t["degrees"],
            with_edge_rank(t["edges"], t["degrees"]),
            t["communities_leveled"],
            claims=t["claims"],
        ),
    ),
)


def build_graph(
    transcripts: DataFrame, config: PipelineConfig | None = None
) -> dict[str, DataFrame]:
    """Evaluate ``GRAPH_STAGES`` lazily; returns every named stage output,
    plus ``edges_ranked`` (edges with their endpoint degrees and rank) and,
    with ``persist_intermediate``, the cached ``split_records``."""
    cfg = config or PipelineConfig()
    t = source(transcripts)
    for stage in GRAPH_STAGES:
        t[stage.name] = stage.make(t, cfg)
    del t["_parsed"]
    t["edges_ranked"] = with_edge_rank(t["edges"], t["degrees"])
    return t
