"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) → DataFrame callable; ``oracle_sql()`` gives the ANSI-SQL
equivalent DuckDB runs on the same parquet views.  The KG-construction
queries derive a transcripts table of the BASELINE.json input_hint shape
from the driver's ``events`` table via one shared SQL statement
(knowledge_graph_spark.synth.TRANSCRIPTS_SQL) executed verbatim by BOTH
engines, so every pipeline stage is value-hash comparable end-to-end.

The probabilistic operators (MinHash/SimHash dedup, hyperplane-LSH
near-dup, feature-hash entity search) run on the SQL-expressible
deterministic hash family (knowledge_graph_spark/functions/hashing.py),
so they are FULLY hash-checked against DuckDB — as is MinHash+CC
canonicalization (recursive-CTE reachability oracle).  The iterative
graph ops (LPA communities, hierarchical LPA, PageRank, matching,
peeling, coloring, …) run a fixed round count, so their oracles are
unrolled CTE chains (``_unroll``): every gate has a DuckDB oracle.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledge_graph_spark.operators.community import (
    connected_components,
    label_propagation,
)
from knowledge_graph_spark.operators.extract import MENTION_PATTERN, extract_mentions
from knowledge_graph_spark.operators.graphops import with_edge_rank
from knowledge_graph_spark.operators.linking import (
    canonical_map,
    jaccard_verify,
    link_aliases,
    minhash_candidate_pairs,
)
from knowledge_graph_spark.functions import pii as pii_fns
from knowledge_graph_spark.functions import textqc
from knowledge_graph_spark.functions.hashing import (
    HASH_A,
    HASH_B,
    HASH_C,
    HASH_M31,
)
from knowledge_graph_spark.operators import claims as claims_ops
from knowledge_graph_spark.operators.corpus import (
    SALT_CAP,
    SALT_SPLIT,
    salt_ab,
)
from knowledge_graph_spark.operators import dedup, multimodal, reports, similarity
from knowledge_graph_spark.operators import query as query_ops
from knowledge_graph_spark.operators.community import hierarchical_lpa
from knowledge_graph_spark.operators.summarize import summarize_descriptions
from knowledge_graph_spark.pipeline import PipelineConfig, build_graph
from knowledge_graph_spark.synth import TRANSCRIPTS_SQL, load_views, transcripts_from_events

# ---------------------------------------------------------------------------
# Shared configuration — identical constants on the Spark and DuckDB sides.
# ---------------------------------------------------------------------------

CHUNK_SIZE = 128
CHUNK_OVERLAP = 16
_STEP = CHUNK_SIZE - CHUNK_OVERLAP

ENTRY_CFG = PipelineConfig(chunk_size=CHUNK_SIZE, chunk_overlap=CHUNK_OVERLAP, tokenizer="ws")

# Alias dictionary for entity-link scoring (broadcast side of V3); embedded
# as VALUES in the oracle so both engines see the identical dictionary.
ALIAS_ROWS = [
    ("EVT_CLICK", "INTERACTION", 0.9),
    ("EVT_VIEW", "INTERACTION", 0.85),
    ("AGENT_0", "ASSISTANT_BOT", 0.95),
    ("AGENT_1", "ASSISTANT_BOT", 0.95),
]


def _alias_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ALIAS_ROWS, schema="alias string, canonical_name string, score double"
    )


_STAGE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def _stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Pipeline stages for sf_dir, memoized per (session, sf_dir) with the
    hub tables persisted — the driver runs many queries() over the same
    stages, and recomputing extraction per query would dominate the
    gate's wall clock.  Keyed by applicationId so a fresh SparkSession
    (whose cached DataFrames would be dead) never sees stale entries."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STAGE_CACHE:
        t = transcripts_from_events(spark, sf_dir)
        stages = build_graph(t, dataclasses.replace(ENTRY_CFG, persist_intermediate=True))
        # raw_records is the expensive intermediate (the extraction UDF);
        # nodes and edges both branch off it, so an unpersisted plan runs
        # extraction twice.  text_units backs the mentions/chunk queries.
        for skey in ("text_units", "raw_records", "nodes", "edges"):
            stages[skey] = stages[skey].persist()
        _STAGE_CACHE[key] = stages
    return _STAGE_CACHE[key]


# ---------------------------------------------------------------------------
# DuckDB oracle prelude: the full KG pipeline as chained CTEs.  Stage
# semantics are documented in the matching operator modules; the SQL is an
# independent sequential re-derivation, not a translation of the Spark plan.
# ---------------------------------------------------------------------------

_ALIAS_VALUES = ", ".join(f"('{a}', '{c}', {s})" for a, c, s in ALIAS_ROWS)

ORACLE_PRELUDE = f"""
transcripts AS ({TRANSCRIPTS_SQL}),
conv_docs AS (
  SELECT sha256(conv_id) AS doc_id, conv_id,
         string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS text,
         CAST(count(*) AS INT) AS n_turns
  FROM transcripts GROUP BY conv_id
),
toks AS (
  SELECT doc_id, conv_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM conv_docs
),
text_units AS (
  SELECT sha256(doc_id || ':' || CAST(ci AS VARCHAR)) AS id,
         doc_id, conv_id, CAST(ci AS INT) AS chunk_idx,
         array_to_string(t[ci*{_STEP}+1 : ci*{_STEP}+{CHUNK_SIZE}], ' ') AS chunk,
         CAST(len(t[ci*{_STEP}+1 : ci*{_STEP}+{CHUNK_SIZE}]) AS INT) AS n_tokens
  FROM toks,
       LATERAL unnest(range(0, CASE WHEN len(t) = 0 THEN 0
                                    ELSE (len(t)-1)//{_STEP} + 1 END)) AS u(ci)
),
ment_occ AS (
  SELECT id AS text_unit_id, conv_id,
         unnest(regexp_extract_all(chunk, '{MENTION_PATTERN}')) AS mention,
         generate_subscripts(regexp_extract_all(chunk, '{MENTION_PATTERN}'), 1) AS occ
  FROM text_units
),
first_ment AS (
  SELECT text_unit_id, conv_id, mention, min(occ) AS ord
  FROM ment_occ GROUP BY text_unit_id, conv_id, mention
),
ent_records AS (
  SELECT text_unit_id, conv_id, mention AS name,
         CASE WHEN starts_with(mention, 'USER_')   THEN 'PERSON'
              WHEN starts_with(mention, 'PERSON_') THEN 'PERSON'
              WHEN starts_with(mention, 'AGENT_')  THEN 'PERSON'
              WHEN starts_with(mention, 'CITY_')   THEN 'GEO'
              WHEN starts_with(mention, 'EVT_')    THEN 'EVENT'
              ELSE 'ORGANIZATION' END AS type,
         'MENTION OF ' || mention AS description
  FROM first_ment
),
rel_records AS (
  SELECT a.text_unit_id, a.conv_id,
         a.mention AS source, b.mention AS target,
         a.mention || ' -> ' || b.mention AS description,
         1.0 AS weight
  FROM first_ment a JOIN first_ment b
    ON a.text_unit_id = b.text_unit_id AND a.ord < b.ord
),
kg_nodes AS (
  SELECT name AS title,
         min(type) AS type,
         string_agg(DISTINCT description, chr(10) ORDER BY description) AS description,
         string_agg(DISTINCT text_unit_id, ',' ORDER BY text_unit_id) AS source_ids
  FROM ent_records GROUP BY name
),
kg_edges AS (
  SELECT least(source, target) AS source, greatest(source, target) AS target,
         CAST(sum(weight) AS DOUBLE) AS weight,
         string_agg(DISTINCT description, chr(10) ORDER BY description) AS description,
         string_agg(DISTINCT text_unit_id, ',' ORDER BY text_unit_id) AS text_unit_ids
  FROM rel_records GROUP BY least(source, target), greatest(source, target)
),
degrees AS (
  SELECT title, CAST(count(*) AS INT) AS degree FROM (
    SELECT source AS title FROM kg_edges
    UNION ALL SELECT target AS title FROM kg_edges
  ) GROUP BY title
),
alias_dict(alias, canonical_name, score) AS (VALUES {_ALIAS_VALUES})
"""


def _oracle(body: str) -> str:
    return f"WITH RECURSIVE {ORACLE_PRELUDE} {body}"


def _unroll(rounds: int, step: Callable[[int], str]) -> str:
    """The CTE chain of a fixed-round unroll, continuing a WITH list
    after its round-0 CTEs: ``step(r)`` returns round r's CTEs, named
    with the round number and reading round r-1's, for r = 1..rounds,
    each round chained on with its leading comma.

    AS MATERIALIZED is load-bearing on every round CTE that a later CTE
    reads more than once: DuckDB inlines a plain CTE at each reference,
    so a round that reads the previous round twice doubles the plan per
    round (2^rounds)."""
    return "".join(f",\n{step(r)}" for r in range(1, rounds + 1))


# The seed of the BFS, double-sweep, widest-path and SSSP oracles: the
# highest-degree title, ties to the least.
_TOP_DEGREE_SEED = "SELECT title FROM degrees ORDER BY degree DESC, title ASC LIMIT 1"


def _min_hop_rounds(hops: int, d: str, adj: str) -> str:
    """``hops`` BFS rounds after the (title, hop) seed CTE ``{d}0``:
    round r keeps every title reached so far at its least hop count,
    one hop over the (a, b) adjacency ``adj`` beyond round r-1."""
    return _unroll(
        hops,
        lambda r: f"""{d}{r} AS MATERIALIZED (
  SELECT title, min(hop) AS hop FROM (
    SELECT title, hop FROM {d}{r - 1}
    UNION ALL
    SELECT {adj}.b AS title, {d}{r - 1}.hop + 1 AS hop
    FROM {d}{r - 1} JOIN {adj} ON {d}{r - 1}.title = {adj}.a
  ) GROUP BY title)""",
    )


# Connected components of the KG as a recursive min-reachability CTE:
# reach holds (node, r) for every title r reachable from node, so
# min(r) per node is its component.
_CC_REACH = """sym AS (
  SELECT source AS a, target AS b FROM kg_edges
  UNION SELECT target AS a, source AS b FROM kg_edges
),
reach(node, r) AS (
  SELECT title, title FROM kg_nodes
  UNION
  SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.node
)"""
_CC_BODY = f"""
, {_CC_REACH}
SELECT node AS title, min(r) AS component FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# Spark-side query callables.
# ---------------------------------------------------------------------------


def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
    )


def q_conv_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stages(spark, sf_dir)["conv_docs"].select("doc_id", "conv_id", "text", "n_turns")


def q_text_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stages(spark, sf_dir)["text_units"].select(
        "id", "doc_id", "conv_id", "chunk_idx", "chunk", "n_tokens"
    )


def q_sentence_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 sentence chunker over the assembled conversation documents."""
    from knowledge_graph_spark.operators.chunk import split_sentence_units

    return split_sentence_units(_stages(spark, sf_dir)["conv_docs"])


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    units = _stages(spark, sf_dir)["text_units"]
    return extract_mentions(units).select("text_unit_id", "conv_id", "mention")


def q_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _stages(spark, sf_dir)["nodes"]
    return nodes.select(
        "title",
        "type",
        "description",
        F.concat_ws(",", "source_id").alias("source_ids"),
    )


def q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _stages(spark, sf_dir)["edges"]
    return edges.select(
        "source",
        "target",
        F.col("weight").cast("double").alias("weight"),
        "description",
        F.concat_ws(",", "text_unit_ids").alias("text_unit_ids"),
    )


def q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stages(spark, sf_dir)["degrees"].select("title", "degree")


def q_edge_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    ranked = with_edge_rank(s["edges"], s["degrees"])
    return ranked.select(
        "source",
        "target",
        F.col("weight").cast("double").alias("weight"),
        "source_degree",
        "target_degree",
        "rank",
    )


def q_linked_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = _stages(spark, sf_dir)["nodes"]
    linked = link_aliases(nodes, _alias_df(spark))
    return linked.select("title", "canonical_name", "link_score")


def q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return connected_components(s["nodes"], s["edges"]).select("title", "component")


def q_largest_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 stable-LCC membership (reference graspologic
    largest_connected_component, utils/graph.py:15-20)."""
    from knowledge_graph_spark.operators.community import largest_component

    s = _stages(spark, sf_dir)
    comps = connected_components(s["nodes"], s["edges"])
    return largest_component(comps).select("title", "component")


def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    return label_propagation(s["nodes"], s["edges"]).select("title", "community")


def q_components_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED pointer-doubling CC path forced (local_threshold=0).

    Below the 200k-edge cutover `connected_components` normally runs the
    driver-local twin of the same min-label fixpoint; this gate pins the
    iterative-join implementation itself to the recursive-SQL oracle so
    the driver hash-checks the code path a big graph would take, not just
    the small-graph shortcut."""
    s = _stages(spark, sf_dir)
    return connected_components(s["nodes"], s["edges"], local_threshold=0).select(
        "title", "component"
    )


def q_communities_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted-LPA path forced (local_threshold=0) — same
    fixpoint, hash-checked against the unrolled 10-round oracle."""
    s = _stages(spark, sf_dir)
    return label_propagation(s["nodes"], s["edges"], local_threshold=0).select(
        "title", "community"
    )


# Warm-start (incremental-maintenance) gates: the "old" KG is the ~2/3 of
# kg_edges whose pair fingerprint survives mod-3 — deterministic and
# SQL-mirrorable; the remaining third plays the CDC insert delta.
WARM_EDGE_MOD = 3
LPA_WARM_ROUNDS = 5
PR_WARM_ROUNDS = 3


def _warm_old_edges(edges: DataFrame) -> DataFrame:
    from knowledge_graph_spark.functions.textqc import rolling_fingerprint

    fp = rolling_fingerprint(F.concat(F.col("source"), F.lit("|"), F.col("target")))
    return edges.filter(F.pmod(fp, F.lit(WARM_EDGE_MOD)) != 0)


def q_cc_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC maintenance: cold components on the 'old' edge
    subset, then WARM-START min-label propagation over the full graph
    (distributed path forced).  Under edge additions the min-reachable-id
    fixpoint is init-independent, so the oracle is the plain recursive
    min-reachability CTE on the full graph — the hash match proves the
    warm path lands on exactly the from-scratch components while only
    reconverging the delta's neighborhood
    (community.connected_components ``init_labels``)."""
    s = _stages(spark, sf_dir)
    init = connected_components(s["nodes"], _warm_old_edges(s["edges"]))
    return connected_components(
        s["nodes"], s["edges"], local_threshold=0, init_labels=init
    ).select("title", "component")


def q_lpa_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start LPA re-clustering: 10 cold rounds on the 'old' subset,
    then LPA_WARM_ROUNDS synchronous rounds over the FULL graph starting
    from those labels (distributed path forced) — the incremental
    re-cluster after a CDC insert batch.  Unlike CC the result depends on
    the start labels, so the oracle unrolls both phases: the old-subgraph
    10-round LPA feeding a 5-round warm unroll on the full graph."""
    s = _stages(spark, sf_dir)
    init = label_propagation(s["nodes"], _warm_old_edges(s["edges"]))
    return label_propagation(
        s["nodes"],
        s["edges"],
        max_iter=LPA_WARM_ROUNDS,
        local_threshold=0,
        init_labels=init,
    ).select("title", "community")


def q_pr_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start PageRank salience maintenance: PR_ITER cold rounds on
    the 'old' edge subset, then PR_WARM_ROUNDS rounds over the FULL
    graph seeded from those scores (graphops.pagerank_int
    ``init_ranks``) — the incremental re-rank after a CDC insert batch,
    completing the warm-start triad with ``cc_warm``/``lpa_warm``.  The
    iteration is memoryless, so the contract is "k rounds from the given
    start"; the oracle unrolls both phases (old-subgraph 10-round PR
    feeding a 3-round warm unroll on the full graph, new nodes seeded
    at the cold scale//n)."""
    from knowledge_graph_spark.operators.graphops import pagerank_int

    s = _stages(spark, sf_dir)
    e = s["edges"].select("source", "target")
    init = pagerank_int(_warm_old_edges(e), iterations=PR_ITER)
    return pagerank_int(e, iterations=PR_WARM_ROUNDS, init_ranks=init)


def q_partition_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-counting agreement (Rand/precision/recall/F1 as exact
    integer micros) between the LPA communities and the connected
    components of the merged KG — "how much of the community structure
    is just connectivity", the partition-drift monitor for maintained
    graphs (graphops.partition_agreement)."""
    from knowledge_graph_spark.operators.graphops import partition_agreement

    s = _stages(spark, sf_dir)
    a = label_propagation(s["nodes"], s["edges"])
    b = connected_components(s["nodes"], s["edges"])
    return partition_agreement(a, b)


def q_cluster_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How far did the warm re-cluster move?  Pair-counting agreement
    between the pre-delta cold LPA labels (the lpa_warm gate's init) and
    the warm re-clustered labels on the full graph — the monitoring
    readout a CDC maintainer checks before trusting an incremental
    re-cluster (high F1 = stable communities, a cliff = the delta
    restructured the graph and a cold re-cluster is due)."""
    from knowledge_graph_spark.operators.graphops import partition_agreement

    s = _stages(spark, sf_dir)
    init = label_propagation(s["nodes"], _warm_old_edges(s["edges"]))
    warm = label_propagation(
        s["nodes"],
        s["edges"],
        max_iter=LPA_WARM_ROUNDS,
        local_threshold=0,
        init_labels=init,
    )
    return partition_agreement(init, warm, label_a="community", label_b="community")


def q_qa_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA-pair folding of each conversation (reference
    conversation_history.py:42-56 to_qa_turns)."""
    from knowledge_graph_spark.operators.assemble import qa_turns

    return qa_turns(transcripts_from_events(spark, sf_dir)).select(
        "conv_id", "qa_idx", "user_query", "answer_text", "n_answers"
    )


def q_last_user_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-K user turns, most recent first (reference
    conversation_history.py:58-66 get_user_turns)."""
    from knowledge_graph_spark.operators.assemble import last_user_turns

    return last_user_turns(transcripts_from_events(spark, sf_dir), k=2).select(
        "conv_id", "recency", "text"
    )


def q_conv_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-biased token-budgeted history context (reference
    conversation_history.py:67-128 build_context).  max_tokens=30 so the
    budget truncation actually bites at gate scale."""
    from knowledge_graph_spark.operators.assemble import conversation_context

    return conversation_context(
        transcripts_from_events(spark, sf_dir), max_qa_turns=5, max_tokens=30
    )


def _alias_only_map(spark: SparkSession, s: dict[str, DataFrame]) -> DataFrame:
    """Canonical map from the dictionary alone (SQL-checkable path; the
    MinHash-LSH variant layers probabilistic pairs on top)."""
    no_pairs = spark.createDataFrame([], "name_a string, name_b string")
    return canonical_map(s["nodes"], no_pairs, alias_dict=_alias_df(spark))


def q_canonical_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_graph_spark.operators.linking import apply_canonicalization

    s = _stages(spark, sf_dir)
    cn, _ = apply_canonicalization(s["nodes"], s["edges"], _alias_only_map(spark, s))
    return cn.select(
        "title", "type", "description", F.concat_ws(",", "source_id").alias("source_ids")
    )


def q_canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_graph_spark.operators.linking import apply_canonicalization

    s = _stages(spark, sf_dir)
    _, ce = apply_canonicalization(s["nodes"], s["edges"], _alias_only_map(spark, s))
    return ce.select(
        "source",
        "target",
        F.col("weight").cast("double").alias("weight"),
        "description",
        F.concat_ws(",", "text_unit_ids").alias("text_unit_ids"),
    )


def q_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    pairs = minhash_candidate_pairs(s["nodes"], name_col="title")
    verified = jaccard_verify(pairs, threshold=0.5)
    return canonical_map(s["nodes"], verified, alias_dict=_alias_df(spark)).select(
        "title", "canonical"
    )


def q_entity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 vector path: feature-hash name embeddings + cosine top-k for a
    fixed query string — hash-checked (the polynomial feature hashing and
    both normalize/dot folds are mirrored in the DuckDB oracle)."""
    from knowledge_graph_spark.operators.embedding import map_query_to_entities

    s = _stages(spark, sf_dir)
    return map_query_to_entities(s["nodes"], "user zero activity", k=5)


def q_hybrid_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid Q1 retrieval: reciprocal-rank fusion of the degree-rank
    list and the vector (feature-hash cosine) list — rank-space fusion,
    integer-exact on both engines."""
    from knowledge_graph_spark.operators.query import rrf_fuse

    return rrf_fuse(
        [q_top_entities(spark, sf_dir), q_entity_search(spark, sf_dir)]
    )


_CLAIMS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finalized claims, memoized per (session, sf_dir) like _stages —
    q_claims and q_text_unit_links share one persisted plan."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CLAIMS_CACHE:
        t = transcripts_from_events(spark, sf_dir)
        _CLAIMS_CACHE[key] = claims_ops.extract_claims(
            t, alias_dict=_alias_df(spark)
        ).persist()
    return _CLAIMS_CACHE[key]


def q_text_unit_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-unit backlinks (reference models/text_unit.py): entity /
    relationship / covariate ids per unit, inverted from stage
    provenance.  Arrays projected as comma-joined strings for the
    cross-engine hash compare."""
    s = _stages(spark, sf_dir)
    links = query_ops.text_unit_backlinks(
        s["text_units"], s["nodes"], s["edges"], claims=_claims(spark, sf_dir)
    )
    return links.select(
        "text_unit_id",
        "doc_id",
        "conv_id",
        "n_tokens",
        F.concat_ws(",", "entity_ids").alias("entity_ids"),
        F.concat_ws(",", "relationship_ids").alias("relationship_ids"),
        F.concat_ws(",", "covariate_ids").alias("covariate_ids"),
    )


N2V_DIM = 16
N2V_WALK_LENGTH = 6
N2V_NUM_WALKS = 3
N2V_WINDOW = 2


def q_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 replacement: deterministic hash-walk graph embeddings in long
    form (title, dim_idx, value_micro)."""
    from knowledge_graph_spark.operators.graph_embedding import node2vec_embeddings

    s = _stages(spark, sf_dir)
    return node2vec_embeddings(
        s["nodes"],
        s["edges"],
        dim=N2V_DIM,
        walk_length=N2V_WALK_LENGTH,
        num_walks=N2V_NUM_WALKS,
        window=N2V_WINDOW,
    )


LOCAL_QUERY = "user zero activity"
GLOBAL_QUERY = "entities relationships weight"


def _cc_reports(spark: SparkSession, sf_dir: str):
    """Shared CC-community report pipeline for the search gates (same
    construction as q_community_reports)."""
    s = _stages(spark, sf_dir)
    comm = connected_components(s["nodes"], s["edges"]).select(
        "title", F.col("component").alias("community")
    )
    nctx = reports.node_context(s["nodes"], s["degrees"], comm)
    ectx = reports.edge_context(with_edge_rank(s["edges"], s["degrees"]), comm)
    ctx = reports.community_local_context(nctx, ectx, top_k=10)
    return s, comm, reports.render_reports(ctx)


def q_local_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 local-search context dataflow: entity mapping → reports →
    entity/relationship tables → claims → budget-packed sources, as one
    deterministic context row (reference combine_context.py:80-224)."""
    from knowledge_graph_spark.operators.search import local_search_context

    s, comm, reps = _cc_reports(spark, sf_dir)
    return local_search_context(
        LOCAL_QUERY,
        s["nodes"],
        s["degrees"],
        with_edge_rank(s["edges"], s["degrees"]),
        comm,
        reps,
        s["text_units"],
        claims=_claims(spark, sf_dir),
        top_k_entities=5,  # matches the entity-search oracle's k
    )


def q_global_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 global-search map-reduce over community reports (reference
    global_search/search.py), deterministic rating."""
    from knowledge_graph_spark.operators.search import global_search_context

    _, _, reps = _cc_reports(spark, sf_dir)
    return global_search_context(GLOBAL_QUERY, reps)


def q_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _claims(spark, sf_dir)
    return c.select(
        "id",
        "subject_id",
        "object_id",
        "claim_type",
        "status",
        "start_date",
        "end_date",
        "description",
        F.concat_ws("|", "source_text").alias("source_texts"),
        "doc_ids",
        "n_claims",
        "human_readable_id",
    )


def q_summarized_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _stages(spark, sf_dir)["edges"]
    named = edges.withColumn("title", F.concat_ws("->", "source", "target"))
    return summarize_descriptions(named).select("source", "target", "description", "summary")


def q_community_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1-R13 over connected components as the community assignment (the
    SQL-checkable detection path; LPA communities are the rows-only
    variant)."""
    s = _stages(spark, sf_dir)
    comm = connected_components(s["nodes"], s["edges"]).select(
        "title", F.col("component").alias("community")
    )
    nctx = reports.node_context(s["nodes"], s["degrees"], comm)
    ectx = reports.edge_context(with_edge_rank(s["edges"], s["degrees"]), comm)
    ctx = reports.community_local_context(nctx, ectx, top_k=10)
    # typed findings[] excluded from the gate projection (array<struct>
    # hashes differently across engines); full_content_json carries the
    # identical serialization and IS hash-checked
    return reports.render_reports(ctx).select(
        "id",
        "community",
        "title",
        "summary",
        "full_content",
        "full_content_json",
        "rank",
        "rank_explanation",
        "level",
        "human_readable_id",
    )


def q_community_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    leveled = hierarchical_lpa(s["nodes"], s["edges"], max_cluster_size=5, max_levels=2)
    return reports.community_hierarchy(leveled).select(
        "community", "level", "sub_community", "sub_community_size"
    )


# ---------------------------------------------------------------------------
# Training-data pipeline queries (documents / embeddings tables).
# ---------------------------------------------------------------------------

NGRAM_N = 5
NGRAM_THRESHOLD = 0.2
NEARDUP_TAU = 0.35  # driver embeddings are near-orthogonal; P99.9 cosine ≈ 0.38
TOPK_K = 5
TOPK_QUERY_LIMIT = 50
IVF_BITS = 8


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    return spark.table("documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    return spark.table("embeddings")


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    text = F.col("text")
    return d.select(
        "doc_id",
        textqc.ws_token_count(text).alias("n_ws_tokens"),
        textqc.bpeish_token_count(text).alias("n_bpeish_tokens"),
        textqc.punct_count(text).alias("n_punct"),
        textqc.stopword_hits(text).alias("en_stop_hits"),
        textqc.lang_id(text).alias("lang_pred"),
        textqc.quality_score(text).alias("quality"),
        textqc.dup_line_fraction(text).alias("dup_line_frac"),
        textqc.repeated_token_fraction(text).alias("rep_token_frac"),
        textqc.content_hash(text).alias("content_hash"),
        textqc.rolling_fingerprint(text).alias("rolling_fp"),
    )


MIX_RATES = [("en", 0.5), ("unknown", 0.25)]
PACK_TARGET = 512
PACK_BUCKETS = 8


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus mixing: per-language keep rates via
    the closed-form sample key (no RNG — both engines derive the same
    keep decision and margin)."""
    from knowledge_graph_spark.operators.corpus import weighted_sample

    p = q_text_profile(spark, sf_dir).select(
        "doc_id", F.col("lang_pred").alias("lang"), "n_ws_tokens"
    )
    rates = spark.createDataFrame(MIX_RATES, "lang string, rate double")
    return weighted_sample(p, rates).select("doc_id", "lang", "n_ws_tokens", "key_micro")


STRATUM_K = 40


def q_stratum_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum exact-k cap (deterministic reservoir sample): at most
    K docs per predicted language, chosen by the shared uniform race key.
    row_number ≤ K rides Spark's WindowGroupLimit map-side prune."""
    from knowledge_graph_spark.operators.corpus import stratum_cap

    p = q_text_profile(spark, sf_dir).select(
        "doc_id", F.col("lang_pred").alias("lang")
    )
    return stratum_cap(p, "lang", "doc_id", k=STRATUM_K)


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy offset sequence packing into token-budget training
    sequences, hash-bucketed into independent packing streams."""
    from knowledge_graph_spark.operators.corpus import pack_sequences

    p = q_text_profile(spark, sf_dir).select(
        "doc_id", F.col("n_ws_tokens").alias("n_tokens")
    )
    return pack_sequences(
        p, token_col="n_tokens", target_tokens=PACK_TARGET, buckets=PACK_BUCKETS
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counting + redaction.  The synthetic corpus contains no PII, so
    the gate APPENDS deterministic PII (same expression in both engines)
    to every document — the regex count/replace machinery is then
    exercised for real, not vacuously matched on zero hits."""
    from knowledge_graph_spark.functions import pii

    d = _docs(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-123-4567 from host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 now"),
    )
    return d.select(
        "doc_id",
        pii.email_count(aug).alias("n_emails"),
        pii.phone_count(aug).alias("n_phones"),
        pii.ipv4_count(aug).alias("n_ips"),
        F.sha2(pii.scrub_pii(aug), 256).alias("redacted_hash"),
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup (multi-dimensional agg over the QC
    profile): doc counts, token totals/extremes, distinct content hashes.
    ROLLUP adds the grand-total row (lang=ALL) in one pass — Spark plans a
    single Expand + hash aggregate, no second scan."""
    p = q_text_profile(spark, sf_dir)
    return (
        p.rollup("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_ws_tokens").alias("min_tokens"),
            F.max("n_ws_tokens").alias("max_tokens"),
            F.countDistinct("content_hash").alias("distinct_docs"),
        )
        .select(
            F.coalesce("lang_pred", F.lit("ALL")).alias("lang"),
            "n_docs",
            "total_tokens",
            "min_tokens",
            "max_tokens",
            "distinct_docs",
        )
    )


EVAL_MOD = 29  # doc_id % EVAL_MOD == EVAL_RES seeds the synthetic benchmark
EVAL_RES = 3
EVAL_OFFSET = 100_000
EVAL_TOKENS = 40  # benchmark prompt = first 40 normalized tokens
DECONTAM_N = 8
DECONTAM_TAU = 0.05
SPAN_WINDOW = 20
SPAN_STRIDE = 10
PR_ITER = 10


def _eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic benchmark set: every 29th document
    contributes its first 40 normalized tokens as a 'benchmark prompt' —
    guaranteeing real collisions (the seed docs and their near-dup cluster
    members) next to clean docs, so the decontamination gate is
    non-vacuous.  Same derivation runs verbatim in the oracle."""
    d = _docs(spark, sf_dir)
    toks = textqc.ws_tokens_col(textqc.normalized_text(F.col("text")))
    return d.filter(F.col("doc_id") % EVAL_MOD == EVAL_RES).select(
        (F.col("doc_id") + EVAL_OFFSET).alias("eval_id"),
        F.concat_ws(" ", F.slice(toks, 1, EVAL_TOKENS)).alias("text"),
    )


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination profile: n-gram collisions between every
    corpus doc and the broadcast eval-set gram index."""
    from knowledge_graph_spark.operators import decontam

    return decontam.contamination_profile(
        _docs(spark, sf_dir),
        _eval_docs(spark, sf_dir),
        n=DECONTAM_N,
        threshold=DECONTAM_TAU,
    )


def q_decontam_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit trail: which benchmark item each contaminated doc collides
    with, and how many distinct n-grams overlap."""
    from knowledge_graph_spark.operators import decontam

    return decontam.contamination_pairs(
        _docs(spark, sf_dir), _eval_docs(spark, sf_dir), n=DECONTAM_N
    )


def q_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived unigram LM quality score (integer bit-length
    arithmetic — exact on both engines)."""
    from knowledge_graph_spark.operators.corpus import (
        familiarity_profile,
        unigram_counts,
    )

    d = _docs(spark, sf_dir)
    return familiarity_profile(d, unigram_counts(d))


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring (boilerplate) detection via
    strided fingerprinted token windows."""
    return dedup.repeated_span_profile(
        _docs(spark, sf_dir), window=SPAN_WINDOW, stride=SPAN_STRIDE
    )


DSIR_MOD = 13  # doc_id % DSIR_MOD == DSIR_RES defines the target domain
DSIR_RES = 4
DSIR_BUCKETS = 4096
DSIR_K = 100


MIS_ROUNDS = 3


def q_diverse_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity keep-set: Luby maximal independent set over the
    near-dup pair graph — keep as many documents as possible with no
    two near-duplicates (strictly more than one-per-cluster on chains);
    every dropped doc is covered by a kept near-duplicate."""
    from knowledge_graph_spark.operators.graphops import luby_mis

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("node"))
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=NGRAM_N, threshold=NGRAM_THRESHOLD
    ).select("id_a", "id_b")
    return luby_mis(docs, pairs, rounds=MIS_ROUNDS)


KMV_K = 64
KMV_MOD = 3  # slice A: doc_id % 3 == 0; slice B: doc_id % 3 == 1


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimation via KMV sketches: how much do two
    document slices' bigram sets overlap — Jaccard and intersection
    estimates computed purely from two k-minimum-values sketches (the
    set-intersection question HLL cannot answer)."""
    from knowledge_graph_spark.functions.textqc import rolling_fingerprint
    from knowledge_graph_spark.operators.dedup import token_windows
    from knowledge_graph_spark.operators.sketches import kmv_kmin, kmv_overlap

    grams = _docs(spark, sf_dir).select(
        "doc_id", F.explode(token_windows(F.col("text"), 2, 1)).alias("span")
    ).withColumn("x", rolling_fingerprint(F.col("span")))
    a = kmv_kmin(grams.filter(F.col("doc_id") % KMV_MOD == 0).select("x"), k=KMV_K)
    b = kmv_kmin(grams.filter(F.col("doc_id") % KMV_MOD == 1).select("x"), k=KMV_K)
    return kmv_overlap(a, b, k=KMV_K)


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality tertiles per language: the
    unigram-LM familiarity score ranked within each predicted language,
    integer tertile cuts (3·rk vs n), tie-free."""
    from knowledge_graph_spark.operators.corpus import tertile_buckets

    lang = q_text_profile(spark, sf_dir).select(
        "doc_id", F.col("lang_pred").alias("lang")
    )
    fam = q_familiarity(spark, sf_dir).select("doc_id", "mean_bits_micro")
    return tertile_buckets(lang.join(fam, "doc_id"))


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance ranking (Xie et al. 2023): hashed-bigram
    log-likelihood-ratio score of every raw document against the
    deterministic target slice; top-K selected under a tie-free order."""
    from knowledge_graph_spark.operators.corpus import dsir_scores

    return dsir_scores(
        _docs(spark, sf_dir),
        target=(F.col("doc_id") % DSIR_MOD == DSIR_RES),
        n_buckets=DSIR_BUCKETS,
        keep_k=DSIR_K,
    )


AUDIT_MIN_TOKENS = 20
AUDIT_QUALITY_TAU = 0.45
AUDIT_DUP_LINE_TAU = 0.30
AUDIT_REP_TOK_TAU = 0.60
AUDIT_PII_MOD = 7  # docs with doc_id % 7 == 0 get deterministic PII appended


def q_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style mixer audit: the QC profile, PII counts, near-dup
    cluster membership and decontamination signals fused into one
    keep/drop decision per document with a reasons-provenance string
    (PII is injected into a deterministic doc slice so that rule is
    non-vacuous; 'duplicate' uses the ngram-Jaccard clusters because the
    synthetic corpus has no exact duplicates)."""
    from knowledge_graph_spark.operators.corpus import mixer_audit

    prof = q_text_profile(spark, sf_dir)
    dupc = q_dedup_clusters(spark, sf_dir).select("doc_id", "is_duplicate")
    aug = F.when(
        F.col("doc_id") % AUDIT_PII_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" reach admin"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org now"),
        ),
    ).otherwise(F.col("text"))
    piic = _docs(spark, sf_dir).select(
        "doc_id",
        (
            pii_fns.email_count(aug)
            + pii_fns.phone_count(aug)
            + pii_fns.ipv4_count(aug)
        ).alias("n_pii"),
    )
    contam = q_decontam(spark, sf_dir).select("doc_id", "is_contaminated")
    signals = (
        prof.join(piic, "doc_id").join(contam, "doc_id").join(dupc, "doc_id")
    )
    rules = [
        ("too_short", F.col("n_ws_tokens") < AUDIT_MIN_TOKENS),
        ("low_quality", F.col("quality") < AUDIT_QUALITY_TAU),
        ("non_english", F.col("lang_pred") != "en"),
        (
            "repetitive",
            (F.col("dup_line_frac") > AUDIT_DUP_LINE_TAU)
            | (F.col("rep_token_frac") > AUDIT_REP_TOK_TAU),
        ),
        ("pii", F.col("n_pii") > 0),
        ("duplicate", F.col("is_duplicate")),
        ("contaminated", F.col("is_contaminated")),
    ]
    return mixer_audit(signals, rules)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style pruning: IVF-cell blocking + within-cell cosine."""
    return similarity.semantic_dedup(
        _embs(spark, sf_dir), threshold=NEARDUP_TAU, bits=IVF_BITS
    )


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triples: per anchor the best same-cell
    positive (sim ≥ τ) and the hardest same-cell negative (best sim
    below τ) — the SimCLR/DPR data-prep mining step."""
    return similarity.contrastive_pairs(
        _embs(spark, sf_dir), pos_threshold=NEARDUP_TAU, bits=IVF_BITS
    )


KM_K = 8
KM_ITERS = 3


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round integer-exact Lloyd k-means over the embedding
    corpus (unrolled-CTE oracle — same strategy as pagerank/LPA)."""
    from knowledge_graph_spark.operators.kmeans import kmeans_assignments

    return kmeans_assignments(_embs(spark, sf_dir), k=KM_K, iterations=KM_ITERS)


def q_semantic_dedup_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the paper's k-means blocking (train + assign +
    within-cluster prune, all bit-exact vs the unrolled oracle)."""
    return similarity.semantic_dedup_kmeans(
        _embs(spark, sf_dir), threshold=NEARDUP_TAU, k=KM_K, iterations=KM_ITERS
    )


TT_K = 5


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 top-k salient terms (integer bit-length IDF +
    one identically-parenthesized double chain — exact both engines)."""
    from knowledge_graph_spark.operators.keywords import bm25_top_terms

    return bm25_top_terms(_docs(spark, sf_dir), k_top=TT_K)


def q_hll_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-HLL distinct-token estimate: every register and the estimate
    itself reproduced exactly by the oracle (shared hash family)."""
    from knowledge_graph_spark.operators.corpus import unigram_counts
    from knowledge_graph_spark.operators.sketches import hll_distinct

    return hll_distinct(unigram_counts(_docs(spark, sf_dir)).select("token"))


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min probe of every vocab token vs its true count (one-sided
    error; the sketch table and every estimate exact cross-engine)."""
    from knowledge_graph_spark.operators.corpus import unigram_counts
    from knowledge_graph_spark.operators.sketches import cms_estimates

    return cms_estimates(unigram_counts(_docs(spark, sf_dir)))


def q_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language power-of-two token-length histogram — the mergeable
    distribution sketch (exact integers; one combinable groupBy)."""
    from knowledge_graph_spark.operators.sketches import log2_histogram

    p = q_text_profile(spark, sf_dir).select(
        F.col("lang_pred").alias("lang"), "n_ws_tokens"
    )
    return log2_histogram(p, "n_ws_tokens", "lang")


def q_hll_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-token HLL estimates — one mergeable sketch
    per stratum (the per-group form of hll_tokens)."""
    from knowledge_graph_spark.functions.textqc import (
        lang_id,
        normalized_text,
        ws_tokens_col,
    )
    from knowledge_graph_spark.operators.sketches import hll_estimate, hll_registers

    lt = _docs(spark, sf_dir).select(
        lang_id(F.col("text")).alias("lang"),
        F.explode(ws_tokens_col(normalized_text(F.col("text")))).alias("token"),
    )
    return hll_estimate(hll_registers(lt, strata_col="lang"), strata_col="lang")


def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-health metric: power-of-two degree distribution of the KG —
    the skew diagnostic you run BEFORE choosing a join strategy at scale
    (reuses the mergeable log2 histogram over node degrees)."""
    from knowledge_graph_spark.operators.sketches import log2_histogram

    return log2_histogram(q_degrees(spark, sf_dir).select("degree"), "degree")


def q_bloom_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom bitmap of the eval-set gram index: every 32-bit word of the
    filter reproduced exactly by the oracle (shared hash family; bit_or
    aggregation on both engines)."""
    from knowledge_graph_spark.operators import decontam
    from knowledge_graph_spark.operators.bloom import bloom_build

    return bloom_build(
        decontam.eval_ngram_index(_eval_docs(spark, sf_dir), n=DECONTAM_N)
    )


def q_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-evalset decontamination: broadcast Bloom bitmap prunes corpus
    grams map-side before the shuffled verify join.  No false negatives +
    exact verify ⇒ output bit-identical to q_decontam — gated by the SAME
    oracle body."""
    from knowledge_graph_spark.operators import decontam

    return decontam.contamination_profile_bloom(
        _docs(spark, sf_dir),
        _eval_docs(spark, sf_dir),
        n=DECONTAM_N,
        threshold=DECONTAM_TAU,
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round integer PageRank over the merged KG edges (exact
    arithmetic — unrolled-CTE oracle, same strategy as the LPA gates)."""
    from knowledge_graph_spark.operators.graphops import pagerank_int

    e = _stages(spark, sf_dir)["edges"].select("source", "target")
    return pagerank_int(e, iterations=PR_ITER)


KATZ_ITER = 8


def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round integer Katz centrality over the merged KG edges —
    attenuated path-count salience (credits indirect reach without
    PageRank's out-degree renormalization)."""
    from knowledge_graph_spark.operators.graphops import katz_int

    e = _stages(spark, sf_dir)["edges"].select("source", "target")
    return katz_int(e, iterations=KATZ_ITER)


def q_kg_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG reconstruction: rebuild the graph from only the turns
    at or before the corpus temporal midpoint — the as-of snapshot audit.
    The cutoff is the integer midpoint of [min, max] turn epoch, computed
    distributively (1-row bounds frame broadcast-joined, no collect)."""
    t = transcripts_from_events(spark, sf_dir)
    ep = F.unix_timestamp("ts").cast("bigint")
    bounds = t.agg(
        F.min(ep).alias("lo"), F.max(ep).alias("hi")
    ).select(F.expr("(lo + hi) DIV 2").alias("cut"))
    filtered = (
        t.crossJoin(F.broadcast(bounds)).filter(ep <= F.col("cut")).drop("cut")
    )
    edges = build_graph(filtered, ENTRY_CFG)["edges"]
    return edges.select("source", "target", F.col("weight").cast("double").alias("weight"))


def q_kg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-level diff between the as-of-midpoint KG snapshot and the
    current graph (temporal.kg_version_diff): which relationships
    appeared, vanished, or changed weight as the second half of the
    corpus arrived — the row-level CDC/version audit.  One full-outer
    join on the edge key."""
    from knowledge_graph_spark.operators.temporal import kg_version_diff

    t = transcripts_from_events(spark, sf_dir)
    ep = F.unix_timestamp("ts").cast("bigint")
    bounds = t.agg(F.min(ep).alias("lo"), F.max(ep).alias("hi")).select(
        F.expr("(lo + hi) DIV 2").alias("cut")
    )
    filtered = t.crossJoin(F.broadcast(bounds)).filter(ep <= F.col("cut")).drop("cut")
    old = build_graph(filtered, ENTRY_CFG)["edges"]
    new = _stages(spark, sf_dir)["edges"]
    return kg_version_diff(old, new)


RETRACT_MOD = 5  # delete conversations whose conv_id fingerprint % 5 == 0


def q_kg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten retraction: remove ~1/5 of conversations
    from the built KG via one anti-join on the persisted record stream
    (NO re-extraction) — the gate proves retract(full) == rebuild on
    the retained transcripts (the oracle re-runs the whole pipeline on
    the filtered corpus)."""
    from knowledge_graph_spark.functions.textqc import rolling_fingerprint
    from knowledge_graph_spark.operators.merge import retract_conversations

    s = _stages(spark, sf_dir)
    deleted = (
        transcripts_from_events(spark, sf_dir)
        .select("conv_id")
        .distinct()
        .filter(
            F.pmod(rolling_fingerprint(F.col("conv_id")), F.lit(RETRACT_MOD)) == 0
        )
    )
    _, edges = retract_conversations(s["raw_records"], deleted)
    return edges.select(
        "source", "target", F.col("weight").cast("double").alias("weight")
    )


def q_type_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-level type mixing matrix: undirected edge counts per
    unordered type pair."""
    s = _stages(spark, sf_dir)
    t = s["nodes"].select("title", "type")
    e = s["edges"].select("source", "target")
    j = (
        e.join(t.select(F.col("title").alias("source"), F.col("type").alias("ta")), "source")
        .join(t.select(F.col("title").alias("target"), F.col("type").alias("tb")), "target")
    )
    return (
        j.select(
            F.least("ta", "tb").alias("type_a"), F.greatest("ta", "tb").alias("type_b")
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
    )


TLP_ROUNDS = 4
TLP_MASK_MOD = 3


def q_typed_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised type inference: mask ~1/3 of node types (rolling
    fingerprint mod 3 == 0), clamp the rest as seeds, propagate types
    over the weighted KG for fixed rounds — the sparse-typing recovery
    audit (masked nodes double as held-out truth)."""
    from knowledge_graph_spark.operators.graphops import seeded_type_propagation

    s = _stages(spark, sf_dir)
    return seeded_type_propagation(
        s["nodes"].select("title", "type"),
        s["edges"].select("source", "target", "weight"),
        rounds=TLP_ROUNDS,
        mask_mod=TLP_MASK_MOD,
    )


MM_ROUNDS = 4


def q_max_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximal matching over the merged KG (symmetric-proposal
    rounds, Israeli-Itai) — the coarsening primitive: contracting matched
    pairs halves the graph without merging non-adjacent nodes."""
    from knowledge_graph_spark.operators.graphops import maximal_matching

    e = _stages(spark, sf_dir)["edges"].select("source", "target")
    return maximal_matching(e, rounds=MM_ROUNDS)


def q_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One multilevel-coarsening level of the KG (METIS / Leiden
    aggregation step): contract the Israeli-Itai matching, collapse
    parallel edges with summed weight, keep contracted-pair weight as
    self-loops — the op that lets log|V| matching rounds shrink a
    100-TB graph to an in-memory one."""
    from knowledge_graph_spark.operators.graphops import (
        coarsen_by_matching,
        maximal_matching,
    )

    e = _stages(spark, sf_dir)["edges"].select("source", "target", "weight")
    m = maximal_matching(e.select("source", "target"), rounds=MM_ROUNDS)
    return coarsen_by_matching(e, m)


def q_coarsen_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level multilevel coarsening (the METIS V-cycle descent, two
    alternations of matching + contraction) — n_multi carries ORIGINAL
    edge provenance through both levels, so the coarse table still
    accounts for every fine edge."""
    from knowledge_graph_spark.operators.graphops import coarsen_hierarchy

    e = _stages(spark, sf_dir)["edges"].select("source", "target", "weight")
    return coarsen_hierarchy(e, levels=2, rounds=MM_ROUNDS)


MSF_ROUNDS = 5
DN_ROUNDS = 8
KNN_K = 3


def q_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest of the merged KG (per-component
    min outgoing edge under the (weight, pair) total order, then CC
    contraction) — the strongest-tie backbone sparsifier; 5 rounds cover
    any component of < 2^5 nodes and a fixed unroll is oracle-exact
    regardless."""
    from knowledge_graph_spark.operators.graphops import min_spanning_forest

    e = _stages(spark, sf_dir)["edges"].select("source", "target", "weight")
    return min_spanning_forest(e, rounds=MSF_ROUNDS)


def q_densest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy densest-subgraph peeling (Charikar / Bahmani et al.
    2(1+ε)-approx, ε=0.1): peel nodes at ≤ (1+ε)·avg degree per round,
    keep the argmax-density prefix — the KG's 'hot core' detector.
    Thresholds compare as exact int64 cross-multiplications."""
    from knowledge_graph_spark.operators.graphops import densest_subgraph

    e = _stages(spark, sf_dir)["edges"].select("source", "target")
    return densest_subgraph(e, rounds=DN_ROUNDS)


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN sparsification of the KG: each node keeps its top-3 incident
    edges by (weight DESC, pair); kept_by=2 marks mutual-kNN edges.  The
    |E| ≤ k·|V| pre-pass that makes the expensive kernels affordable at
    100-TB edge counts."""
    from knowledge_graph_spark.operators.graphops import knn_graph

    e = _stages(spark, sf_dir)["edges"].select("source", "target", "weight")
    return knn_graph(e, k=KNN_K)


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled Brandes betweenness over the merged KG — shortest-path
    brokerage from the top-degree pivot sources, fixed-round forward σ
    count + backward δ accumulation in exact scaled integers."""
    from knowledge_graph_spark.operators.graphops import betweenness_sampled

    e = _stages(spark, sf_dir)["edges"].select("source", "target")
    return betweenness_sampled(e)


def q_pagerank_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: rank mass splits by each edge's share of the
    source's total incident co-occurrence weight — the salience measure
    the merged KG's weights exist for."""
    from knowledge_graph_spark.operators.graphops import pagerank_int

    e = _stages(spark, sf_dir)["edges"].select("source", "target", "weight")
    return pagerank_int(e, iterations=PR_ITER, weight="weight")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_docs(spark, sf_dir)).select(
        "content_hash", "canonical_id", "dup_count"
    )


def q_ngram_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=NGRAM_N, threshold=NGRAM_THRESHOLD
    ).select("id_a", "id_b", "jaccard")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup resolution: CC over the n-gram Jaccard pair graph →
    canonical survivor per cluster."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=NGRAM_N, threshold=NGRAM_THRESHOLD)
    return dedup.dedup_clusters(docs, pairs).select(
        "doc_id", "canonical_id", "is_duplicate"
    )


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_doc_pairs(_docs(spark, sf_dir), threshold=NGRAM_THRESHOLD)


def q_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup folded over two interleaved batches
    (doc_id parity split) against a growing band index; the pair union
    must equal batch mode, so the BATCH oracle gates it — a non-vacuous
    check that the index probe loses and invents nothing."""
    from knowledge_graph_spark.functions.textqc import normalized_text

    docs = _docs(spark, sf_dir)
    p1, idx = dedup.minhash_incremental(
        docs.filter(F.col("doc_id") % 2 == 0), None, threshold=NGRAM_THRESHOLD
    )
    p2, _ = dedup.minhash_incremental(
        docs.filter(F.col("doc_id") % 2 == 1), idx, threshold=NGRAM_THRESHOLD
    )
    named = docs.select(
        "doc_id", normalized_text(F.col("text")).alias("title")
    )
    return dedup.pairs_to_ids(p1.unionByName(p2), named)


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_emb_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries_df = embs.filter(F.col("vec_id") < TOPK_QUERY_LIMIT)
    return similarity.cosine_topk(embs, queries_df, k=TOPK_K).select(
        "query_id", "neighbor_id", "sim_micro", "rk"
    )


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries_df = embs.filter(F.col("vec_id") < TOPK_QUERY_LIMIT)
    return similarity.ivf_topk(embs, queries_df, k=TOPK_K, bits=IVF_BITS).select(
        "query_id", "neighbor_id", "cell", "sim_micro", "rk"
    )


def q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_neardup_pairs(_embs(spark, sf_dir), threshold=NEARDUP_TAU).select(
        "id_a", "id_b", "sim_micro"
    )


def q_emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_neardup_pairs(_embs(spark, sf_dir), threshold=NEARDUP_TAU)


SPLIT_VAL_FRAC = 0.05
SPLIT_TEST_FRAC = 0.05


TRUSS_K = 3
TRUSS_ROUNDS = 3


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-truss peel over the KG co-occurrence graph — the
    edge-peeling cohesion filter (every surviving edge keeps >= k-2
    common-neighbor witnesses inside the truss)."""
    from knowledge_graph_spark.operators.graphops import k_truss

    return k_truss(
        _stages(spark, sf_dir)["edges"].select("source", "target"),
        k=TRUSS_K,
        rounds=TRUSS_ROUNDS,
    )


CP_PR_ITER = 3


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph from the TPC-H lineitem table: distinct
    (part, part) pairs appearing in the same order, canonical a < b —
    at sf0.1 this is 20k nodes / 1.2M edges, so the driver's own
    hash-checked gates exercise the distributed iterative kernels PAST
    the 200k-edge driver-local cutover (the KG extracted from the
    driver's fixed-vocabulary events stays a toy graph; this one grows
    with sf).  The within-order self-join is bounded by basket size
    (≤7 items per TPC-H order — per-group quadratic with a small
    constant; the general mitigation for unbounded baskets is a
    per-group item cap before pairing, exactly like the LSH hot-bucket
    cap)."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem").select("l_orderkey", "l_partkey")
    return (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").cast("bigint").alias("source"),
            F.col("b.l_partkey").cast("bigint").alias("target"),
        )
        .distinct()
    )


def q_copurchase_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round integer PageRank over the lineitem co-purchase graph
    (same unrolled-oracle strategy as `pagerank`, non-toy node count)."""
    from knowledge_graph_spark.operators.graphops import pagerank_int

    return pagerank_int(_copurchase_edges(spark, sf_dir), iterations=CP_PR_ITER)


CP_HIER_LEVELS = 3


def q_community_hierarchy3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-3 community hierarchy over the sf-scaling co-purchase graph
    (VERDICT r4 #5): three matching-contraction levels
    (graphops.coarsen_communities) feed the R10 containment operator
    (reports.community_hierarchy) — every level is a REAL refinement
    (matching always merges adjacent supernodes), unlike deterministic
    LPA re-runs which reproduce themselves on induced components.
    Containment rows span levels 0→1 AND 1→2."""
    from knowledge_graph_spark.operators.graphops import coarsen_communities

    e = _copurchase_edges(spark, sf_dir).withColumn("weight", F.lit(1.0))
    n = (
        e.select(F.col("source").alias("title"))
        .unionByName(e.select(F.col("target").alias("title")))
        .distinct()
    )
    leveled = coarsen_communities(n, e, levels=CP_HIER_LEVELS, rounds=MM_ROUNDS)
    # distinct: unlike hierarchical_lpa's level-qualified labels, supernode
    # ids persist across levels, so community_hierarchy's size join fans
    # out into identical projected rows when an unchanged sub-community's
    # size coincides across levels (oracle mirrors with SELECT DISTINCT)
    return (
        reports.community_hierarchy(leveled)
        .select("community", "level", "sub_community", "sub_community_size")
        .distinct()
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: growth-stable closed-form hash
    assignment (no RNG; a doc never migrates splits as the corpus grows)."""
    from knowledge_graph_spark.operators.corpus import hash_split

    return hash_split(
        _docs(spark, sf_dir).select("doc_id"),
        val_frac=SPLIT_VAL_FRAC,
        test_frac=SPLIT_TEST_FRAC,
    ).select("doc_id", "split", "key_micro")


def q_leakfree_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split: the near-dup CLUSTER is the split unit (key
    hashed on the cluster canonical), so a document and its
    near-duplicates can never straddle train/test — the dedup-aware
    assignment eval hygiene requires."""
    from knowledge_graph_spark.operators.corpus import hash_split

    clusters = q_dedup_clusters(spark, sf_dir).select("doc_id", "canonical_id")
    return hash_split(
        clusters,
        id_col="canonical_id",
        val_frac=SPLIT_VAL_FRAC,
        test_frac=SPLIT_TEST_FRAC,
    ).select("doc_id", "canonical_id", "split", "key_micro")


BFS_HOPS = 2


def q_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact order-statistic length profile (p50/p90/max of
    whitespace token counts) — batch-size planning over the corpus."""
    from knowledge_graph_spark.operators.corpus import length_profile

    p = q_text_profile(spark, sf_dir).select(
        "doc_id", F.col("lang_pred").alias("lang"), F.col("n_ws_tokens").alias("n_tokens")
    )
    return length_profile(p, strata_col="lang")


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop neighborhood expansion from the top-degree entity (the
    local-search context ball, generalized to fixed-round BFS)."""
    from knowledge_graph_spark.operators.graphops import bfs_hops

    s = _stages(spark, sf_dir)
    seed = (
        s["degrees"].orderBy(F.desc("degree"), F.asc("title")).limit(1).select("title")
    )
    return bfs_hops(s["edges"].select("source", "target"), seed, hops=BFS_HOPS)


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    return multimodal.extract_media_meta(media)


def q_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    return multimodal.frame_sample_plan(multimodal.extract_media_meta(media))


def q_event_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_graph_spark.operators.temporal import window_rollup

    load_views(spark, sf_dir)
    return window_rollup(spark.table("events"), "1 hour").select(
        "window_start_us", "event_type", "n_events", "total_value"
    )


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_graph_spark.operators.sessions import session_stats

    load_views(spark, sf_dir)
    return session_stats(spark.table("events")).select(
        "user_id",
        "session_id",
        "start_us",
        "end_us",
        "n_events",
        "total_value",
        "duration_us",
    )


def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-trace mining: first-order Markov transition counts over each
    conversation's ordered tool-call sequence (^START marks entry)."""
    from knowledge_graph_spark.operators.agent_trace import tool_transitions

    return tool_transitions(transcripts_from_events(spark, sf_dir))


SCC_INNER = 4  # ≥ reachability diameter of the transition graph
SCC_OUTER = 2


def q_tool_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC condensation of the directed tool-transition graph: the
    recurrent tool core (retry/routine loops) vs transient entry states
    (^START) — fixed-round FW-BW min-label peeling, unrolled oracle."""
    from knowledge_graph_spark.operators.graphops import scc_fixed_rounds

    edges = q_tool_transitions(spark, sf_dir).select(
        F.col("prev_tool").alias("source"), F.col("tool").alias("target")
    )
    return scc_fixed_rounds(edges, inner_rounds=SCC_INNER, outer_rounds=SCC_OUTER)


HYPERBALL_ROUNDS = 3


def q_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighborhood-size estimation over the KG: per node, an
    HLL sketch of its 3-hop ball, register MAX-merge once per round —
    the neighborhood-function / effective-diameter statistic at graph
    scales where per-node BFS is impossible."""
    from knowledge_graph_spark.operators.sketches import hyperball

    return hyperball(_stages(spark, sf_dir)["edges"], rounds=HYPERBALL_ROUNDS)


def q_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation assistant response-latency profile in exact
    integer microseconds (epoch-us lag subtraction, no float durations)."""
    from knowledge_graph_spark.operators.agent_trace import turn_latency

    return turn_latency(transcripts_from_events(spark, sf_dir))


def q_role_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-role exact token-length order statistics over turn texts —
    the dialogue-curation twin of length_stats (assistant walls, empty
    tool outputs show up as per-role length outliers)."""
    from knowledge_graph_spark.operators.corpus import length_profile

    t = transcripts_from_events(spark, sf_dir)
    p = t.select(
        "role",
        F.size(textqc.ws_tokens_col(F.col("text"))).alias("n_tokens"),
        F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
    )
    return length_profile(p, strata_col="role")


WIDEST_ROUNDS = 3
SSSP_ROUNDS = 4
PREFIX_DIM = 32


def q_widest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min bottleneck path strength from the top-degree entity —
    the evidential-support-weighted complement of bfs_hops (unrolled-CTE
    oracle; seed strength is the integer stand-in for +inf)."""
    from knowledge_graph_spark.operators.graphops import widest_paths

    s = _stages(spark, sf_dir)
    seed = (
        s["degrees"].orderBy(F.desc("degree"), F.asc("title")).limit(1).select("title")
    )
    return widest_paths(
        s["edges"].select("source", "target", "weight"), seed, rounds=WIDEST_ROUNDS
    )


BPE_ROUNDS = 3


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer TRAINING loop: 3 rounds of count-pairs →
    argmax-merge → greedy re-segmentation over the word-frequency table
    (character-level; native aggregate fold, no Python)."""
    from knowledge_graph_spark.operators.corpus import bpe_train_merges

    return bpe_train_merges(_docs(spark, sf_dir), rounds=BPE_ROUNDS)


HITS_ROUNDS = 3


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer HITS over the DIRECTED raw relationship records — hubs
    (relation sources) vs authorities (relation targets), signal the
    canonical undirected KG erases (unrolled-CTE oracle)."""
    from knowledge_graph_spark.operators.graphops import hits_int
    from knowledge_graph_spark.operators.parse import (
        parse_relationships,
        split_records,
    )

    rel = parse_relationships(split_records(_stages(spark, sf_dir)["raw_records"]))
    return hits_int(rel.select("source", "target"), rounds=HITS_ROUNDS)


# ---------------------------------------------------------------------------
# DuckDB oracles for the documents/embeddings queries.
# ---------------------------------------------------------------------------

_STOP = {lang: ", ".join(f"'{w}'" for w in ws) for lang, ws in textqc.LANG_STOPWORDS.items()}

_HITS = {
    lang: (
        "CAST(len(list_filter(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        f" x -> x <> ''), t -> t IN ({_STOP[lang]}))) AS INT)"
    )
    for lang in textqc.LANG_STOPWORDS
}

_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {lang}_hits > 0 AND {lang}_hits = best_hits THEN '{lang}'"
        for lang in textqc.LANG_STOPWORDS
    )
    + " ELSE 'unknown' END"
)

_TEXT_PROFILE_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS INT)
      AS n_ws_tokens,
    CAST(len(regexp_extract_all(text, '{textqc.BPEISH_RE}')) AS INT) AS n_bpeish_tokens,
    CAST(len(regexp_extract_all(text, '{textqc.PUNCT_RE}')) AS INT) AS n_punct,
    list_filter(regexp_split_to_array(text, '\\n'), x -> trim(x) <> '') AS doc_lines,
    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS low_toks,
    {", ".join(f"{_HITS[lang]} AS {lang}_hits" for lang in textqc.LANG_STOPWORDS)}
  FROM documents
),
scored AS (
  SELECT *, greatest({", ".join(f"{lang}_hits" for lang in textqc.LANG_STOPWORDS)}) AS best_hits
  FROM base
)
SELECT doc_id, n_ws_tokens, n_bpeish_tokens, n_punct, en_hits AS en_stop_hits,
  {_LANG_CASE} AS lang_pred,
  least(CAST(n_ws_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
    + least((CAST(en_hits AS DOUBLE) / greatest(CAST(n_ws_tokens AS DOUBLE), 1.0)) / 0.5, 1.0) * 0.3
    + (1.0 - least(CAST(n_punct AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) * 5.0, 1.0)) * 0.3
    AS quality,
  CASE WHEN len(doc_lines) = 0 THEN 0.0
       ELSE 1.0 - CAST(len(list_distinct(doc_lines)) AS DOUBLE)
                  / CAST(len(doc_lines) AS DOUBLE) END AS dup_line_frac,
  CASE WHEN len(low_toks) = 0 THEN 0.0
       ELSE 1.0 - CAST(len(list_distinct(low_toks)) AS DOUBLE)
                  / CAST(len(low_toks) AS DOUBLE) END AS rep_token_frac,
  sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, length(text) + 1),
        i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
    (a, b) -> (a * {textqc.FP_BASE} + b) % {textqc.FP_MOD}) AS rolling_fp
FROM scored
"""

_LENGTH_HIST_SQL = f"""
WITH prof AS ({_TEXT_PROFILE_SQL})
SELECT lang_pred AS lang,
       CAST(CASE WHEN n_ws_tokens <= 0 THEN 0
                 ELSE length(bin(CAST(n_ws_tokens AS BIGINT))) END AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM prof GROUP BY 1, 2
"""

_EXACT_DEDUP_SQL = """
SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
       min(doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY 1
"""

_NGRAM_DEDUP_SQL = f"""
WITH dtoks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                     '\\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[ci+1 : ci+{NGRAM_N}], ' ') AS gram
  FROM dtoks, LATERAL unnest(range(0, CASE WHEN len(t) < {NGRAM_N} THEN 0
                                           ELSE len(t) - {NGRAM_N} + 1 END)) AS u(ci)
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
rare AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 1000),
posting AS (SELECT g.* FROM grams g JOIN rare USING (gram)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM posting a JOIN posting b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.doc_id
JOIN sizes sb ON inter.id_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - inter AS DOUBLE) >= {NGRAM_THRESHOLD}
"""

# Near-dup cluster resolution: the ngram-Jaccard pair graph closed into
# connected components by a recursive CTE; min id per component is the
# canonical survivor.  Shared by the dedup_clusters gate and the mixer
# audit's 'duplicate' rule.
_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE dtoks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                     '\\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[ci+1 : ci+{NGRAM_N}], ' ') AS gram
  FROM dtoks, LATERAL unnest(range(0, CASE WHEN len(t) < {NGRAM_N} THEN 0
                                           ELSE len(t) - {NGRAM_N} + 1 END)) AS u(ci)
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
rare AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 1000),
posting AS (SELECT g.* FROM grams g JOIN rare USING (gram)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM posting a JOIN posting b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
dpairs AS (
  SELECT lpad(CAST(id_a AS VARCHAR), 12, '0') AS a,
         lpad(CAST(id_b AS VARCHAR), 12, '0') AS b
  FROM inter
  JOIN sizes sa ON inter.id_a = sa.doc_id
  JOIN sizes sb ON inter.id_b = sb.doc_id
  WHERE CAST(inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - inter AS DOUBLE)
        >= {NGRAM_THRESHOLD}
),
dsym AS (SELECT a, b FROM dpairs UNION SELECT b AS a, a AS b FROM dpairs),
dnodes AS (SELECT lpad(CAST(doc_id AS VARCHAR), 12, '0') AS node FROM documents),
dreach(node, r) AS (
  SELECT node, node FROM dnodes
  UNION
  SELECT s.a, dreach.r FROM dsym s JOIN dreach ON s.b = dreach.node
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(min(r) AS BIGINT) AS canonical_id,
       node <> min(r) AS is_duplicate
FROM dreach GROUP BY node
"""

# Cosine oracle mirrors the Spark fold EXACTLY: per-vector L2 normalize
# (sequential sum-of-squares fold), then a sequential dot-product fold of
# the unit vectors — identical float op order on both engines.
_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len(e) + 1), i -> e[CAST(i AS INT)] * e[CAST(i AS INT)])), "
    "(x, y) -> x + y))"
)
_UNIT_CTE = f"""
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
uemb AS (
  SELECT vec_id, nrm, list_transform(e, x -> x / nrm) AS e
  FROM (SELECT vec_id, e, {_NORM} AS nrm FROM emb)
)
"""
_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len(a.e) + 1), i -> a.e[CAST(i AS INT)] * b.e[CAST(i AS INT)])), "
    "(x, y) -> x + y)"
)
_COS_MICRO = f"CAST(floor({_DOT} * {similarity.SIM_SCALE}) AS BIGINT)"
_IVF_CELL = " + ".join(
    f"(CASE WHEN e[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(IVF_BITS)
)

_EMB_TOPK_SQL = f"""
WITH {_UNIT_CTE},
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {_COS_MICRO} AS sim_micro
  FROM uemb a JOIN uemb b ON b.vec_id < {TOPK_QUERY_LIMIT} AND a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, sim_micro,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim_micro DESC, neighbor_id) AS INT) AS rk
FROM scored QUALIFY rk <= {TOPK_K}
"""

# Matryoshka prefix-dim variant: identical plan on vectors truncated to the
# first PREFIX_DIM dims (re-normalized in the prefix space, same fold order).
_PREFIX_UNIT_CTE = f"""
emb AS (SELECT vec_id, list_slice(CAST(embedding AS DOUBLE[]), 1, {PREFIX_DIM}) AS e
        FROM embeddings),
uemb AS (
  SELECT vec_id, nrm, list_transform(e, x -> x / nrm) AS e
  FROM (SELECT vec_id, e, {_NORM} AS nrm FROM emb)
)
"""

_EMB_PREFIX_TOPK_SQL = f"""
WITH {_PREFIX_UNIT_CTE},
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, {_COS_MICRO} AS sim_micro
  FROM uemb a JOIN uemb b ON b.vec_id < {TOPK_QUERY_LIMIT} AND a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, sim_micro,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim_micro DESC, neighbor_id) AS INT) AS rk
FROM scored QUALIFY rk <= {TOPK_K}
"""

_EMB_IVF_SQL = f"""
WITH {_UNIT_CTE},
cells AS (SELECT vec_id, CAST({_IVF_CELL} AS BIGINT) AS cell FROM emb),
celled AS (SELECT u.vec_id, u.e, c.cell FROM uemb u JOIN cells c USING (vec_id)),
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, a.cell AS cell,
         {_COS_MICRO} AS sim_micro
  FROM celled a JOIN celled b ON a.cell = b.cell
  WHERE b.vec_id < {TOPK_QUERY_LIMIT} AND a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, cell, sim_micro,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim_micro DESC, neighbor_id) AS INT) AS rk
FROM scored QUALIFY rk <= {TOPK_K}
"""


_EMB_NEARDUP_SQL = f"""
WITH {_UNIT_CTE},
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_MICRO} AS sim_micro
  FROM uemb a JOIN uemb b ON a.vec_id < b.vec_id
)
SELECT * FROM scored WHERE sim_micro >= {int(NEARDUP_TAU * similarity.SIM_SCALE)}
"""


_CP_EDGES_SQL = """
cp_edges AS MATERIALIZED (
  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS source,
                  CAST(b.l_partkey AS BIGINT) AS target
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""


def _cp_rank_sql(rounds: int = CP_PR_ITER) -> str:
    """Unrolled integer PageRank over the co-purchase graph — composes
    the parameterized _pr_body over the cp_edges CTE (standalone)."""
    return f"WITH {_CP_EDGES_SQL}" + _pr_body(
        rounds=rounds, edges_cte="cp_edges", prefix="cpr_"
    )


def _cp_hier3_sql(levels: int = CP_HIER_LEVELS, rounds: int = MM_ROUNDS) -> str:
    """Depth-``levels`` matching-coarsening hierarchy over the
    co-purchase graph + R10 containment — mirrors graphops.
    coarsen_communities feeding reports.community_hierarchy.  Per level:
    one unrolled symmetric-proposal matching (namespaced ``_mm_body``),
    one composed-map advance (LEFT join on the current supernode), and —
    below the last level — one contraction.  Standalone (derives from
    the lineitem view, no pipeline prelude)."""

    def level(k: int) -> str:
        sql = f"ch_ne{k} AS (SELECT a AS source, b AS target FROM ch_e{k} WHERE a <> b)"
        sql += _mm_body(
            rounds=rounds, as_cte=f"chmm{k}", src=f"ch_ne{k}", prefix=f"chp{k}"
        )
        sql += f""",
chstep{k} AS MATERIALIZED (
  SELECT source AS n, source AS ns FROM chmm{k}
  UNION ALL SELECT target, source FROM chmm{k}),
chm{k} AS MATERIALIZED (
  SELECT m.t, coalesce(s.ns, m.s) AS s
  FROM chm{k - 1} m LEFT JOIN chstep{k} s ON m.s = s.n)"""
        if k < levels:
            sql += f""",
ch_e{k + 1} AS MATERIALIZED (
  SELECT least(msn, mtn) AS a, greatest(msn, mtn) AS b,
         CAST(sum(w) AS DOUBLE) AS w, CAST(sum(n_multi) AS BIGINT) AS n_multi
  FROM (
    SELECT coalesce(ms.ns, e.a) AS msn, coalesce(mt.ns, e.b) AS mtn,
           e.w, e.n_multi
    FROM ch_e{k} e
    LEFT JOIN chstep{k} ms ON e.a = ms.n
    LEFT JOIN chstep{k} mt ON e.b = mt.n)
  GROUP BY least(msn, mtn), greatest(msn, mtn))"""
        return sql

    leveled_union = "\n  UNION ALL ".join(
        f"SELECT t AS title, s AS community, CAST({levels - k} AS INT) AS level "
        f"FROM chm{k}"
        for k in range(1, levels + 1)
    )
    return f"""WITH {_CP_EDGES_SQL},
ch_nodes AS MATERIALIZED (
  SELECT DISTINCT t FROM (
    SELECT source AS t FROM cp_edges UNION ALL SELECT target FROM cp_edges)),
ch_e1 AS MATERIALIZED (
  SELECT source AS a, target AS b, CAST(1 AS DOUBLE) AS w,
         CAST(1 AS BIGINT) AS n_multi
  FROM cp_edges),
chm0 AS MATERIALIZED (SELECT t, t AS s FROM ch_nodes){_unroll(levels, level)},
ch_leveled AS MATERIALIZED (
  {leveled_union}),
ch_joined AS (
  SELECT a.community AS parent, a.level, b.community AS sub_community
  FROM ch_leveled a JOIN ch_leveled b ON a.title = b.title
  WHERE b.level = a.level + 1),
ch_sub_sizes AS (
  SELECT community AS sub_community, level AS sub_level,
         count(*) AS sub_size
  FROM ch_leveled GROUP BY community, level),
ch_overlap AS (
  SELECT parent, level, sub_community, count(*) AS overlap
  FROM ch_joined GROUP BY parent, level, sub_community)
SELECT DISTINCT o.parent AS community, o.level, o.sub_community,
       CAST(s.sub_size AS INT) AS sub_community_size
FROM ch_overlap o JOIN ch_sub_sizes s ON o.sub_community = s.sub_community
WHERE o.overlap = s.sub_size"""


def _ktruss_body(k: int = TRUSS_K, rounds: int = TRUSS_ROUNDS) -> str:
    """Unrolled k-truss peel over kg_edges (prelude table).  Each round:
    ordered-wedge triangles, per-edge support, LEFT-join filter at
    support >= k-2 (left join so zero-support edges survive when k <= 2,
    matching the Spark kernel exactly)."""

    def support(r: int) -> str:
        return f"""kt_tr{r} AS MATERIALIZED (
  SELECT ab.a, ab.b, bc.b AS c
  FROM kt_e{r} ab JOIN kt_e{r} bc ON ab.b = bc.a
  JOIN kt_e{r} ac ON ac.a = ab.a AND ac.b = bc.b),
kt_s{r} AS MATERIALIZED (
  SELECT x, y, count(*) AS sup FROM (
    SELECT a AS x, b AS y FROM kt_tr{r}
    UNION ALL SELECT a, c FROM kt_tr{r}
    UNION ALL SELECT b, c FROM kt_tr{r}) GROUP BY x, y)"""

    def step(r: int) -> str:
        return f"""kt_e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM kt_e{r - 1} e
  LEFT JOIN kt_s{r - 1} s ON e.a = s.x AND e.b = s.y
  WHERE coalesce(s.sup, 0) >= {k - 2}),
{support(r)}"""

    return f"""
, kt_e0 AS MATERIALIZED (SELECT source AS a, target AS b FROM kg_edges),
{support(0)}{_unroll(rounds, step)}
SELECT e.a AS source, e.b AS target,
       CAST(coalesce(s.sup, 0) AS BIGINT) AS support
FROM kt_e{rounds} e
LEFT JOIN kt_s{rounds} s ON e.a = s.x AND e.b = s.y"""


# BFS oracle: unrolled min-hop rounds from the top-degree seed (prelude
# provides kg_edges/degrees).
def _bfs_body(hops: int = BFS_HOPS) -> str:
    return f"""
, bseed AS MATERIALIZED ({_TOP_DEGREE_SEED}),
badj AS MATERIALIZED (
  SELECT source AS a, target AS b FROM kg_edges
  UNION SELECT target AS a, source AS b FROM kg_edges),
d0 AS MATERIALIZED (SELECT title, 0 AS hop FROM bseed){_min_hop_rounds(hops, 'd', 'badj')}
SELECT title, CAST(hop AS INT) AS hop FROM d{hops}"""


_LENGTH_STATS_SQL = f"""
WITH prof AS ({{profile}}),
p AS (SELECT doc_id, lang_pred AS lang, CAST(n_ws_tokens AS BIGINT) AS n FROM prof),
r AS (SELECT lang, n,
        row_number() OVER (PARTITION BY lang ORDER BY n ASC, doc_id ASC) AS rn,
        count(*) OVER (PARTITION BY lang) AS cnt
      FROM p)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  max(CASE WHEN rn = ((cnt - 1) * 5) // 10 + 1 THEN n END) AS p50,
  max(CASE WHEN rn = ((cnt - 1) * 9) // 10 + 1 THEN n END) AS p90,
  max(n) AS max_tokens
FROM r GROUP BY lang
"""


# hash_split draws the salted key family at SALT_SPLIT (decorrelated from
# the cap priority and the mix keep key — see corpus.salt_ab)
_SPLIT_A, _SPLIT_B = salt_ab(SALT_SPLIT)
_CAP_A, _CAP_B = salt_ab(SALT_CAP)

_HASH_SPLIT_SQL = f"""
SELECT doc_id,
  CASE WHEN key < {SPLIT_TEST_FRAC} THEN 'test'
       WHEN key < {SPLIT_TEST_FRAC + SPLIT_VAL_FRAC} THEN 'val'
       ELSE 'train' END AS split,
  CAST(floor(key * 1000000) AS BIGINT) AS key_micro
FROM (SELECT doc_id,
        CAST(({_SPLIT_A} * (doc_id % {textqc.FP_MOD}) + {_SPLIT_B}) % {HASH_M31} AS DOUBLE)
          / {HASH_M31} AS key
      FROM documents)
"""

# ---------------------------------------------------------------------------
# Training-data quality oracles: decontamination, unigram familiarity,
# repeated spans, semantic dedup.  All-integer outputs (plus floor'd
# micro-fractions of exact small-int divisions) — bit-exact across engines
# by construction.
# ---------------------------------------------------------------------------

_DTOKS_CTE = """
dtoks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                     '\\s+'), x -> x <> '') AS t
  FROM documents
)
"""


_EVAL_CTE = f"""
ev AS (
  SELECT doc_id + {EVAL_OFFSET} AS eval_id, t[1:{EVAL_TOKENS}] AS et
  FROM dtoks WHERE doc_id % {EVAL_MOD} = {EVAL_RES}
),
dgrams AS (
  SELECT DISTINCT doc_id, array_to_string(t[ci+1 : ci+{DECONTAM_N}], ' ') AS gram
  FROM dtoks, LATERAL unnest(range(0, CASE WHEN len(t) < {DECONTAM_N} THEN 0
                                           ELSE len(t) - {DECONTAM_N} + 1 END)) u(ci)
)
"""

_DECONTAM_SQL = f"""
WITH {_DTOKS_CTE}, {_EVAL_CTE},
egrams AS (
  SELECT DISTINCT array_to_string(et[ci+1 : ci+{DECONTAM_N}], ' ') AS gram
  FROM ev, LATERAL unnest(range(0, CASE WHEN len(et) < {DECONTAM_N} THEN 0
                                        ELSE len(et) - {DECONTAM_N} + 1 END)) u(ci)
),
cnt AS (
  SELECT d.doc_id, count(*) AS n_grams,
         sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM dgrams d LEFT JOIN egrams e ON d.gram = e.gram
  GROUP BY d.doc_id
),
prof AS (
  SELECT doc.doc_id,
         CAST(coalesce(c.n_grams, 0) AS BIGINT) AS n_grams,
         CAST(coalesce(c.n_hit, 0) AS BIGINT) AS n_hit,
         CAST(CASE WHEN coalesce(c.n_grams, 0) = 0 THEN 0
                   ELSE floor(CAST(c.n_hit AS DOUBLE) * 1000000
                              / CAST(c.n_grams AS DOUBLE)) END AS BIGINT) AS contam_micro
  FROM documents doc LEFT JOIN cnt c ON doc.doc_id = c.doc_id
)
SELECT doc_id, n_grams, n_hit, contam_micro,
       contam_micro >= {int(DECONTAM_TAU * 1_000_000)} AS is_contaminated
FROM prof
"""

_DECONTAM_PAIRS_SQL = f"""
WITH {_DTOKS_CTE}, {_EVAL_CTE},
egrams_id AS (
  SELECT DISTINCT eval_id, array_to_string(et[ci+1 : ci+{DECONTAM_N}], ' ') AS gram
  FROM ev, LATERAL unnest(range(0, CASE WHEN len(et) < {DECONTAM_N} THEN 0
                                        ELSE len(et) - {DECONTAM_N} + 1 END)) u(ci)
)
SELECT d.doc_id, e.eval_id, CAST(count(*) AS BIGINT) AS n_hit
FROM dgrams d JOIN egrams_id e ON d.gram = e.gram
GROUP BY d.doc_id, e.eval_id
"""

_FAMILIARITY_SQL = f"""
WITH {_DTOKS_CTE},
toks AS (SELECT doc_id, unnest(t) AS tok FROM dtoks),
occ AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
j AS (
  SELECT o.doc_id, o.c, v.cnt,
         CAST(length(bin(v.cnt)) - 1 AS BIGINT) AS bits
  FROM occ o JOIN vocab v ON o.tok = v.tok
),
prof AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(CASE WHEN cnt = 1 THEN c ELSE 0 END) AS BIGINT) AS n_rare,
         CAST(sum(c * bits) AS BIGINT) AS familiarity_bits
  FROM j GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_distinct, 0) AS BIGINT) AS n_distinct,
       CAST(coalesce(p.n_rare, 0) AS BIGINT) AS n_rare,
       CAST(coalesce(p.familiarity_bits, 0) AS BIGINT) AS familiarity_bits,
       CAST(CASE WHEN coalesce(p.n_tokens, 0) = 0 THEN 0
                 ELSE floor(CAST(p.familiarity_bits AS DOUBLE) * 1000000
                            / CAST(p.n_tokens AS DOUBLE)) END AS BIGINT) AS mean_bits_micro
FROM documents d LEFT JOIN prof p ON d.doc_id = p.doc_id
"""

_SPAN_FP = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length(span) + 1), "
    "i -> CAST(ord(substr(span, CAST(i AS INT), 1)) AS BIGINT))), "
    f"(a, b) -> (a * {textqc.FP_BASE} + b) % {textqc.FP_MOD})"
)

_REPEATED_SPANS_SQL = f"""
WITH {_DTOKS_CTE},
wins AS (
  SELECT doc_id, {_SPAN_FP} AS fp
  FROM (
    SELECT doc_id,
           array_to_string(t[wi*{SPAN_STRIDE}+1 : wi*{SPAN_STRIDE}+{SPAN_WINDOW}], ' ') AS span
    FROM dtoks, LATERAL unnest(range(0, CASE WHEN len(t) < {SPAN_WINDOW} THEN 0
                                             ELSE (len(t) - {SPAN_WINDOW}) // {SPAN_STRIDE} + 1 END)) u(wi)
  )
),
rep AS (SELECT fp FROM wins GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
cnt AS (
  SELECT w.doc_id, count(*) AS n_windows,
         sum(CASE WHEN r.fp IS NOT NULL THEN 1 ELSE 0 END) AS n_repeated
  FROM wins w LEFT JOIN rep r ON w.fp = r.fp
  GROUP BY w.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(c.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(c.n_repeated, 0) AS BIGINT) AS n_repeated,
       CAST(CASE WHEN coalesce(c.n_windows, 0) = 0 THEN 0
                 ELSE floor(CAST(c.n_repeated AS DOUBLE) * 1000000
                            / CAST(c.n_windows AS DOUBLE)) END AS BIGINT) AS rep_micro
FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
"""


# DSIR oracle: hashed-bigram bucket models (target vs raw, add-one
# smoothing, bit-length log2), per-doc mean log-likelihood ratio in
# floored micro-units, deterministic top-K selection.  The bigram
# fingerprint is the same polynomial fold the Spark side uses
# (rolling_fingerprint), evaluated on the space-joined token window.
_DSIR_SQL = f"""
WITH {_DTOKS_CTE},
grams AS (
  SELECT doc_id, array_to_string(t[ci+1 : ci+2], ' ') AS span
  FROM dtoks, LATERAL unnest(range(0, CASE WHEN len(t) < 2 THEN 0
                                           ELSE len(t) - 1 END)) u(ci)
),
gb AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(span) + 1),
             i -> CAST(ord(substr(span, CAST(i AS INT), 1)) AS BIGINT))),
           (a, b) -> (a * {textqc.FP_BASE} + b) % {textqc.FP_MOD}) % {DSIR_BUCKETS} AS b
  FROM grams
),
occ AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM gb GROUP BY doc_id, b),
bkt AS (
  SELECT b,
         CAST(length(bin(CAST(sum(CASE WHEN doc_id % {DSIR_MOD} = {DSIR_RES}
                                       THEN c ELSE 0 END) + 1 AS BIGINT))) - 1 AS BIGINT)
         - CAST(length(bin(CAST(sum(c) + 1 AS BIGINT))) - 1 AS BIGINT) AS wt
  FROM occ GROUP BY b
),
prof AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         CAST(sum(c * wt) AS BIGINT) AS dsir_bits
  FROM occ JOIN bkt USING (b) GROUP BY doc_id
),
scored AS (
  SELECT doc_id, n_grams, dsir_bits,
         CAST(floor(CAST(dsir_bits AS DOUBLE) * 1000000
                    / CAST(n_grams AS DOUBLE)) AS BIGINT) AS mean_lr_micro
  FROM prof
),
sel AS (SELECT doc_id FROM scored ORDER BY mean_lr_micro DESC, doc_id LIMIT {DSIR_K})
SELECT d.doc_id,
       CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(s.dsir_bits, 0) AS BIGINT) AS dsir_bits,
       CAST(coalesce(s.mean_lr_micro, 0) AS BIGINT) AS mean_lr_micro,
       s2.doc_id IS NOT NULL AS selected
FROM documents d
LEFT JOIN scored s ON d.doc_id = s.doc_id
LEFT JOIN sel s2 ON d.doc_id = s2.doc_id
"""

def _bpe_oracle(rounds: int) -> str:
    """Unrolled BPE-training oracle: per round, weighted adjacent-pair
    counts over the word-frequency table, tie-free argmax, and the SAME
    newline-anchored replace construction the Spark side uses for the
    greedy merge (leftmost non-overlapping replace == greedy BPE; a
    list_reduce struct fold would be equivalent but DuckDB 1.0 corrupts
    list-in-struct accumulators — measured)."""
    ctes = [
        _DTOKS_CTE.strip(),
        """vocab0 AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(t) AS w FROM dtoks) GROUP BY w
)""",
        """syms0 AS MATERIALIZED (
  SELECT word, cnt, list_transform(range(1, length(word) + 1),
                                   i -> substr(word, CAST(i AS INT), 1)) AS syms
  FROM vocab0
)""",
    ]

    def step(r: int) -> str:
        k = r - 1
        sql = f"""pairs{r} AS MATERIALIZED (
  SELECT syms[CAST(i AS INT) + 1] AS l, syms[CAST(i AS INT) + 2] AS r,
         CAST(sum(cnt) AS BIGINT) AS n
  FROM syms{k}, LATERAL unnest(range(0, CASE WHEN len(syms) < 2 THEN 0
                                             ELSE len(syms) - 1 END)) u(i)
  GROUP BY 1, 2),
best{r} AS MATERIALIZED (SELECT l, r, n FROM pairs{r} ORDER BY n DESC, l, r LIMIT 1)"""
        if r < rounds:  # nothing reads the segmentation after the last round
            sql += f""",
syms{r} AS MATERIALIZED (
  SELECT word, cnt,
         str_split(substr(s2, 2, length(s2) - 2), chr(10) || chr(10)) AS syms
  FROM (
    SELECT s.word, s.cnt,
           replace(chr(10) || array_to_string(s.syms, chr(10) || chr(10)) || chr(10),
                   chr(10) || b.l || chr(10) || chr(10) || b.r || chr(10),
                   chr(10) || b.l || b.r || chr(10)) AS s2
    FROM syms{k} s CROSS JOIN best{r} b
  ))"""
        return sql

    union = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS round, l AS left_tok, r AS right_tok, "
        f"n AS n_pairs FROM best{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + _unroll(rounds, step) + "\n" + union


# Mixer-audit oracle: composes the text-profile and decontamination
# oracle bodies (nested WITH — DuckDB accepts full statements as CTE
# bodies) plus the PII counting patterns, then evaluates the same fixed
# rule list; concat_ws skips non-fired (NULL) rules in both engines.
_FILTER_AUDIT_SQL = f"""
WITH prof AS ({_TEXT_PROFILE_SQL}),
dupc AS ({_DEDUP_CLUSTERS_SQL}),
paug AS (
  SELECT doc_id,
         CASE WHEN doc_id % {AUDIT_PII_MOD} = 0
              THEN text || ' reach admin' || CAST(doc_id AS VARCHAR) || '@example.org now'
              ELSE text END AS t
  FROM documents
),
piic AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{pii_fns.EMAIL_RE}'))
         + len(regexp_extract_all(t, '{pii_fns.PHONE_RE}'))
         + len(regexp_extract_all(t, '{pii_fns.IPV4_RE}')) AS n_pii
  FROM paug
),
contam AS ({_DECONTAM_SQL}),
sig AS (
  SELECT w.doc_id, w.n_ws_tokens, w.quality, w.lang_pred, w.dup_line_frac,
         w.rep_token_frac, d.is_duplicate, p.n_pii, c.is_contaminated
  FROM prof w JOIN piic p USING (doc_id) JOIN contam c USING (doc_id)
       JOIN dupc d USING (doc_id)
),
flagged AS (
  SELECT doc_id,
    concat_ws(',',
      CASE WHEN n_ws_tokens < {AUDIT_MIN_TOKENS} THEN 'too_short' END,
      CASE WHEN quality < {AUDIT_QUALITY_TAU} THEN 'low_quality' END,
      CASE WHEN lang_pred <> 'en' THEN 'non_english' END,
      CASE WHEN dup_line_frac > {AUDIT_DUP_LINE_TAU}
             OR rep_token_frac > {AUDIT_REP_TOK_TAU} THEN 'repetitive' END,
      CASE WHEN n_pii > 0 THEN 'pii' END,
      CASE WHEN is_duplicate THEN 'duplicate' END,
      CASE WHEN is_contaminated THEN 'contaminated' END) AS reasons
  FROM sig
)
SELECT doc_id, reasons, reasons = '' AS kept FROM flagged
"""

_SEMANTIC_DEDUP_SQL = f"""
WITH {_UNIT_CTE},
cells AS (SELECT vec_id, CAST({_IVF_CELL} AS BIGINT) AS cell FROM emb),
celled AS (SELECT u.vec_id, u.e, c.cell FROM uemb u JOIN cells c USING (vec_id)),
prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_MICRO} AS sim_micro
  FROM celled a JOIN celled b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
nearest AS (
  SELECT id_b AS vec_id, min(id_a) AS dup_of FROM prs
  WHERE sim_micro >= {int(NEARDUP_TAU * similarity.SIM_SCALE)} GROUP BY id_b
)
SELECT c.vec_id, c.cell,
       coalesce(n.dup_of, c.vec_id) AS canonical_id,
       n.dup_of IS NOT NULL AS is_pruned
FROM cells c LEFT JOIN nearest n ON c.vec_id = n.vec_id
"""

# --- integer-exact k-means (operators/kmeans.py): unrolled Lloyd rounds ----

_KM_D2 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, len(p.q) + 1), "
    "i -> (p.q[CAST(i AS INT)] - c.c[CAST(i AS INT)]) "
    "* (p.q[CAST(i AS INT)] - c.c[CAST(i AS INT)]))), (x, y) -> x + y)"
)


def _km_assign_cte(name: str, cent: str) -> str:
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id, q, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
    FROM (SELECT p.vec_id, p.q, c.cid, {_KM_D2} AS d2
          FROM qpts p CROSS JOIN {cent} c))
  WHERE rk = 1
)"""


def _km_update_cte(name: str, assigned: str, prev: str) -> str:
    return f"""{name} AS MATERIALIZED (
  SELECT prev.cid, coalesce(m.cnew, prev.c) AS c
  FROM {prev} prev LEFT JOIN (
    SELECT cid, list(m ORDER BY pos) AS cnew FROM (
      SELECT cid, pos,
             CAST(floor(CAST(sum(val) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
      FROM (SELECT cid, CAST(i AS INT) AS pos, q[CAST(i AS INT)] AS val
            FROM {assigned}, LATERAL unnest(range(1, len(q) + 1)) u(i))
      GROUP BY cid, pos) GROUP BY cid
  ) m ON prev.cid = m.cid
)"""


def _kmeans_ctes(k: int, iterations: int) -> tuple[str, str]:
    """Unrolled Lloyd: qpts, c0, (ka_r, c_r)*, final assignment CTE.
    Returns (cte_block, final_assign_cte_name)."""
    from knowledge_graph_spark.operators.kmeans import Q_SCALE

    seed = f"""qpts AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {Q_SCALE}.0) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, q AS c
  FROM (SELECT vec_id, q FROM qpts ORDER BY vec_id LIMIT {k})
)"""
    rounds = _unroll(
        iterations,
        lambda r: _km_assign_cte(f"ka{r}", f"c{r - 1}")
        + ",\n"
        + _km_update_cte(f"c{r}", f"ka{r}", f"c{r - 1}"),
    )
    final = f"ka{iterations + 1}"
    return seed + rounds + ",\n" + _km_assign_cte(final, f"c{iterations}"), final


_KM_BLOCK, _KM_FINAL = _kmeans_ctes(KM_K, KM_ITERS)

_KMEANS_SQL = f"""
WITH {_KM_BLOCK}
SELECT vec_id, CAST(cid AS INT) AS cluster, CAST(d2 AS BIGINT) AS d2
FROM {_KM_FINAL}
"""

_SEMANTIC_DEDUP_KM_SQL = f"""
WITH {_KM_BLOCK},
{_UNIT_CTE},
kcells AS (SELECT vec_id, CAST(cid AS INT) AS cluster FROM {_KM_FINAL}),
celled AS (SELECT u.vec_id, u.e, k.cluster FROM uemb u JOIN kcells k USING (vec_id)),
prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_MICRO} AS sim_micro
  FROM celled a JOIN celled b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
),
knearest AS (
  SELECT id_b AS vec_id, min(id_a) AS dup_of FROM prs
  WHERE sim_micro >= {int(NEARDUP_TAU * similarity.SIM_SCALE)} GROUP BY id_b
)
SELECT c.vec_id, c.cluster,
       coalesce(n.dup_of, c.vec_id) AS canonical_id,
       n.dup_of IS NOT NULL AS is_pruned
FROM kcells c LEFT JOIN knearest n ON c.vec_id = n.vec_id
"""

# --- BM25 top-terms (operators/keywords.py) --------------------------------

from knowledge_graph_spark.operators.keywords import BM25_B, BM25_K1, SCORE_SCALE

_TOP_TERMS_SQL = f"""
WITH {_DTOKS_CTE},
tok AS (SELECT doc_id, unnest(t) AS term FROM dtoks),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(length(bin(g.n_docs // dfreq.df)) - 1 AS BIGINT) AS idf_bits,
         CAST(floor(({SCORE_SCALE}.0 * CAST(length(bin(g.n_docs // dfreq.df)) - 1 AS DOUBLE))
              * ((CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0!r})
                 / (CAST(tf.tf AS DOUBLE)
                    + {BM25_K1!r} * ({1.0 - BM25_B!r}
                                     + {BM25_B!r} * CAST(dl.dl * g.n_docs AS DOUBLE)
                                       / CAST(g.total_len AS DOUBLE)))))
              AS BIGINT) AS score_micro
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN g
)
SELECT doc_id, term, tf, df, idf_bits, score_micro,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY score_micro DESC, term) AS INT) AS rk
FROM scored WHERE idf_bits > 0
QUALIFY rk <= {TT_K}
"""


# ---------------------------------------------------------------------------
# SQL mirrors of the deterministic hash family (functions/hashing.py):
# poly string hash + (a_i*x + b_i) mod 2^31-1 permutations.  All int64-safe.
# ---------------------------------------------------------------------------

_POLY = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length({s}) + 1), "
    "i -> CAST(ord(substr({s}, CAST(i AS INT), 1)) AS BIGINT))), "
    f"(a, b) -> (a * {textqc.FP_BASE} + b) % {textqc.FP_MOD})"
)


def _perm(x: str, i: str) -> str:
    """perm_i(x) SQL: (a_i*x + b_i) % M31 with derived coefficients.
    The index is cast to BIGINT so INT32 inputs (e.g. a recursion step
    counter) never overflow the coefficient product."""
    a = f"(({HASH_A} * (CAST(({i}) AS BIGINT) + 1)) % {HASH_M31})"
    b = f"(({HASH_B} * (CAST(({i}) AS BIGINT) + 1) + {HASH_C}) % {HASH_M31})"
    return f"(({a} * ({x}) + {b}) % {HASH_M31})"


# --- deterministic sketches (operators/sketches.py) -------------------------

from knowledge_graph_spark.operators import sketches as _sk

_HLL_M = 1 << _sk.HLL_P
_HLL_MAXRANK = 32 - _sk.HLL_P
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_SK_POLY = _POLY.format(s="token")

_HLL_SQL = f"""
WITH {_DTOKS_CTE},
tok AS (SELECT DISTINCT unnest(t) AS token FROM dtoks),
hh AS (SELECT {_perm('x', '0')} AS h
       FROM (SELECT {_SK_POLY} AS x FROM tok)),
regs AS (SELECT h % {_HLL_M} AS register, h // {_HLL_M} AS w FROM hh),
rk AS (SELECT register,
              max(CASE WHEN w = 0 THEN {_HLL_MAXRANK}
                       ELSE length(bin(w & (-w))) END) AS max_rank
       FROM regs GROUP BY register),
hagg AS (SELECT CAST(count(*) AS BIGINT) AS n_regs,
                CAST(sum({_sk.HLL_SCALE} >> max_rank) AS BIGINT) AS s_hit FROM rk)
SELECT CAST({_HLL_M} AS BIGINT) AS m,
       CAST({_HLL_M} - n_regs AS BIGINT) AS n_zero,
       CAST(s_hit + ({_HLL_M} - n_regs) * {_sk.HLL_SCALE} AS BIGINT) AS sum_scaled,
       CAST(floor(CAST({(_HLL_ALPHA * float(_HLL_M * _HLL_M)) * float(_sk.HLL_SCALE)!r} AS DOUBLE)
            / CAST(s_hit + ({_HLL_M} - n_regs) * {_sk.HLL_SCALE} AS DOUBLE)) AS BIGINT)
           AS estimate
FROM hagg
"""

def _hyperball_oracle(rounds: int) -> str:
    """Unrolled HyperBall oracle over the prelude's kg_edges: singleton
    sketches from the shared hash family, register MAX-merge over the
    symmetrized adjacency per round, then the standard raw-HLL estimate
    arithmetic per node."""
    poly = _POLY.format(s="node")
    ctes = [
        """hb_adj AS MATERIALIZED (
  SELECT source AS a, target AS b FROM kg_edges
  UNION
  SELECT target AS a, source AS b FROM kg_edges
)""",
        "hb_nodes AS (SELECT DISTINCT a AS node FROM hb_adj)",
        f"""hbr0 AS MATERIALIZED (
  SELECT node, CAST(h % {_HLL_M} AS INT) AS register,
         CAST(CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_MAXRANK}
                   ELSE length(bin((h // {_HLL_M}) & (-(h // {_HLL_M})))) END AS INT)
           AS max_rank
  FROM (SELECT node, {_perm('x', '0')} AS h
        FROM (SELECT node, {poly} AS x FROM hb_nodes)))""",
    ]
    merge = _unroll(
        rounds,
        lambda r: f"""hbr{r} AS MATERIALIZED (
  SELECT node, register, max(max_rank) AS max_rank FROM (
    SELECT node, register, max_rank FROM hbr{r - 1}
    UNION ALL
    SELECT e.a AS node, x.register, x.max_rank
    FROM hb_adj e JOIN hbr{r - 1} x ON x.node = e.b
  ) GROUP BY node, register)""",
    )
    est_num = (_HLL_ALPHA * float(_HLL_M * _HLL_M)) * float(_sk.HLL_SCALE)
    body = f"""hbagg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_regs,
         CAST(sum({_sk.HLL_SCALE} >> max_rank) AS BIGINT) AS s_hit
  FROM hbr{rounds} GROUP BY node)
SELECT node, CAST({_HLL_M} AS BIGINT) AS m,
       CAST({_HLL_M} - n_regs AS BIGINT) AS n_zero,
       CAST(s_hit + ({_HLL_M} - n_regs) * {_sk.HLL_SCALE} AS BIGINT) AS sum_scaled,
       CAST(floor(CAST({est_num!r} AS DOUBLE)
            / CAST(s_hit + ({_HLL_M} - n_regs) * {_sk.HLL_SCALE} AS DOUBLE)) AS BIGINT)
         AS estimate
FROM hbagg"""
    return ", " + ",\n".join(ctes) + merge + ",\n" + body


def _mis_oracle(rounds: int) -> str:
    """Unrolled Luby-MIS oracle over the ngram near-dup pair graph: the
    same per-round packed priority key (perm_r(id)·2^31 + (id mod 2^31),
    full id as lexicographic tiebreak — int64-safe for any bigint id),
    strict local-minimum selection, and neighbour/member peeling the
    Spark kernel runs."""
    pk = 1 << 31
    ctes = [
        _DTOKS_CTE.strip(),
        f"""mgrams AS (
  SELECT DISTINCT doc_id, array_to_string(t[ci+1 : ci+{NGRAM_N}], ' ') AS gram
  FROM dtoks, LATERAL unnest(range(0, CASE WHEN len(t) < {NGRAM_N} THEN 0
                                           ELSE len(t) - {NGRAM_N} + 1 END)) AS u(ci)
)""",
        "msizes AS (SELECT doc_id, count(*) AS n_grams FROM mgrams GROUP BY doc_id)",
        "mrare AS (SELECT gram FROM mgrams GROUP BY gram HAVING count(*) <= 1000)",
        "mposting AS (SELECT g.* FROM mgrams g JOIN mrare USING (gram))",
        """minter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM mposting a JOIN mposting b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)""",
        f"""mpairs AS MATERIALIZED (
  SELECT id_a, id_b FROM minter
  JOIN msizes sa ON minter.id_a = sa.doc_id
  JOIN msizes sb ON minter.id_b = sb.doc_id
  WHERE CAST(inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - inter AS DOUBLE)
        >= {NGRAM_THRESHOLD})""",
        "me1 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mpairs "
        "UNION SELECT id_b AS a, id_a AS b FROM mpairs)",
        "act1 AS MATERIALIZED (SELECT doc_id AS node FROM documents)",
    ]

    def step(r: int) -> str:
        a_r = (HASH_A * (r + 1)) % HASH_M31
        b_r = (HASH_B * (r + 1) + HASH_C) % HASH_M31
        # ((x % m) + m) % m mirrors Spark's pmod for negative ids too —
        # DuckDB's bare % is signed, which would diverge on negative keys
        return f"""mk{r} AS MATERIALIZED (
  SELECT node,
         (({a_r} * (((node % {textqc.FP_MOD}) + {textqc.FP_MOD}) % {textqc.FP_MOD}) + {b_r}) % {HASH_M31}) * {pk} + (((node % {pk}) + {pk}) % {pk}) AS key
  FROM act{r}),
mn{r} AS MATERIALIZED (
  SELECT e.a AS node, min({{'k': k.key, 'n': k.node}}) AS nm
  FROM me{r} e JOIN mk{r} k ON k.node = e.b GROUP BY e.a),
mis{r} AS MATERIALIZED (
  SELECT k.node FROM mk{r} k LEFT JOIN mn{r} n ON k.node = n.node
  WHERE n.nm IS NULL OR k.key < n.nm.k
     OR (k.key = n.nm.k AND k.node < n.nm.n)),
mdom{r} AS MATERIALIZED (
  SELECT DISTINCT e.a AS node FROM me{r} e JOIN mis{r} m ON e.b = m.node
  WHERE e.a NOT IN (SELECT node FROM mis{r})),
act{r + 1} AS MATERIALIZED (
  SELECT node FROM act{r}
  WHERE node NOT IN (SELECT node FROM mis{r})
    AND node NOT IN (SELECT node FROM mdom{r})),
me{r + 1} AS MATERIALIZED (
  SELECT a, b FROM me{r}
  WHERE a IN (SELECT node FROM act{r + 1})
    AND b IN (SELECT node FROM act{r + 1}))"""

    union = "\nUNION ALL\n".join(
        f"SELECT node, 'in_mis' AS status, CAST({r} AS INT) AS round FROM mis{r}\n"
        f"UNION ALL\n"
        f"SELECT node, 'dominated' AS status, CAST({r} AS INT) AS round FROM mdom{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + _unroll(rounds, step)
        + f"""
{union}
UNION ALL
SELECT node, 'undecided' AS status, CAST(0 AS INT) AS round FROM act{rounds + 1}
"""
    )


# KMV corpus-overlap oracle: per slice the k smallest distinct permuted
# bigram fingerprints, then the Beyer et al. union-sample overlap math —
# every double expression parenthesized exactly as the Spark side.
_KMV_EST = (
    "CASE WHEN {n} < " + str(KMV_K) + " THEN CAST({n} AS DOUBLE) "
    "ELSE (CAST(" + str(KMV_K - 1) + " AS DOUBLE) * " + repr(float(HASH_M31))
    + ") / CAST({hk} AS DOUBLE) END"
)
_KMV_SQL = f"""
WITH {_DTOKS_CTE},
kgrams AS (
  SELECT doc_id, array_to_string(t[ci+1 : ci+2], ' ') AS span
  FROM dtoks, LATERAL unnest(range(0, CASE WHEN len(t) < 2 THEN 0
                                           ELSE len(t) - 1 END)) u(ci)
),
gx AS (SELECT doc_id, {_POLY.format(s="span")} AS x FROM kgrams),
ha AS (SELECT DISTINCT {_perm('x', '0')} AS h FROM gx WHERE doc_id % {{M}} = 0),
hb AS (SELECT DISTINCT {_perm('x', '0')} AS h FROM gx WHERE doc_id % {{M}} = 1),
ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM ha)
       WHERE rk <= {{K}}),
kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM hb)
       WHERE rk <= {{K}}),
uni AS (
  SELECT coalesce(ka.h, kb.h) AS h,
         CASE WHEN ka.h IS NULL THEN 0 ELSE 1 END AS in_a,
         CASE WHEN kb.h IS NULL THEN 0 ELSE 1 END AS in_b
  FROM ka FULL JOIN kb ON ka.h = kb.h
),
samp AS (SELECT * FROM (SELECT *, row_number() OVER (ORDER BY h) AS rk FROM uni)
         WHERE rk <= {{K}}),
astats AS (SELECT CAST(count(*) AS BIGINT) AS n_a, max(h) AS hk_a FROM ka),
bstats AS (SELECT CAST(count(*) AS BIGINT) AS n_b, max(h) AS hk_b FROM kb),
ustats AS (SELECT CAST(count(*) AS BIGINT) AS n_u, max(h) AS hk_u,
                  CAST(sum(in_a * in_b) AS BIGINT) AS n_match FROM samp)
SELECT CAST({{K}} AS INT) AS k, n_a, n_b,
  CAST(floor({_KMV_EST.format(n='n_a', hk='hk_a')}) AS BIGINT) AS a_est,
  CAST(floor({_KMV_EST.format(n='n_b', hk='hk_b')}) AS BIGINT) AS b_est,
  CAST(floor({_KMV_EST.format(n='n_u', hk='hk_u')}) AS BIGINT) AS union_est,
  n_match,
  CAST(floor((CAST(n_match AS DOUBLE) / CAST(n_u AS DOUBLE)) * 1000000) AS BIGINT)
    AS jaccard_micro,
  CAST(floor((CAST(n_match AS DOUBLE) / CAST(n_u AS DOUBLE))
             * ({_KMV_EST.format(n='n_u', hk='hk_u')})) AS BIGINT) AS inter_est
FROM astats, bstats, ustats
"""

# per-language variant: one register table per lang_pred stratum (MAX is
# idempotent, so the Spark side skips the DISTINCT — same registers)
_HLL_LANG_SQL = f"""
WITH prof AS ({_TEXT_PROFILE_SQL}),
{_DTOKS_CTE},
lt AS (SELECT DISTINCT p.lang_pred AS lang, token
       FROM (SELECT doc_id, unnest(t) AS token FROM dtoks) d
       JOIN prof p USING (doc_id)),
hh AS (SELECT lang, {_perm('x', '0')} AS h
       FROM (SELECT lang, {_SK_POLY} AS x FROM lt)),
regs AS (SELECT lang, h % {_HLL_M} AS register, h // {_HLL_M} AS w FROM hh),
rk AS (SELECT lang, register,
              max(CASE WHEN w = 0 THEN {_HLL_MAXRANK}
                       ELSE length(bin(w & (-w))) END) AS max_rank
       FROM regs GROUP BY 1, 2),
hagg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_regs,
                CAST(sum({_sk.HLL_SCALE} >> max_rank) AS BIGINT) AS s_hit
         FROM rk GROUP BY lang)
SELECT lang, CAST({_HLL_M} AS BIGINT) AS m,
       CAST({_HLL_M} - n_regs AS BIGINT) AS n_zero,
       CAST(s_hit + ({_HLL_M} - n_regs) * {_sk.HLL_SCALE} AS BIGINT) AS sum_scaled,
       CAST(floor(CAST({(_HLL_ALPHA * float(_HLL_M * _HLL_M)) * float(_sk.HLL_SCALE)!r} AS DOUBLE)
            / CAST(s_hit + ({_HLL_M} - n_regs) * {_sk.HLL_SCALE} AS DOUBLE)) AS BIGINT)
           AS estimate
FROM hagg
"""


def _cms_bucket_sql(i: int) -> str:
    a, b, c = _sk.row_coeffs(i)
    return (
        f"(((({a} * x) % {HASH_M31} + ({b} * ((x * x) % {HASH_M31})) % {HASH_M31}"
        f" + {c}) % {HASH_M31}) % {_sk.CMS_W})"
    )


_CMS_PROBES = "\nUNION ALL\n".join(
    f"SELECT token AS key, cnt AS true_cnt, {i} AS rw,"
    f" CAST({_cms_bucket_sql(i)} AS INT) AS bucket FROM cx"
    for i in range(_sk.CMS_D)
)

_CMS_SQL = f"""
WITH {_DTOKS_CTE},
ccounts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(t) AS token FROM dtoks) GROUP BY token),
cx AS (SELECT token, cnt, {_SK_POLY} AS x FROM ccounts),
cpr AS ({_CMS_PROBES}),
cm AS (SELECT rw, bucket, CAST(sum(true_cnt) AS BIGINT) AS total
       FROM cpr GROUP BY rw, bucket)
SELECT p.key, p.true_cnt, CAST(min(c.total) AS BIGINT) AS est_cnt
FROM cpr p JOIN cm c ON p.rw = c.rw AND p.bucket = c.bucket
GROUP BY p.key, p.true_cnt
"""


# --- bloom filter (operators/bloom.py) --------------------------------------

from knowledge_graph_spark.operators import bloom as _bl

_BLOOM_POS = " UNION ALL ".join(
    f"SELECT ({_perm('x', str(i))} % {_bl.BLOOM_BITS}) AS pos FROM gx"
    for i in range(_bl.BLOOM_K)
)

_BLOOM_WORDS_SQL = f"""
WITH {_DTOKS_CTE}, {_EVAL_CTE},
egrams AS (
  SELECT DISTINCT array_to_string(et[ci+1 : ci+{DECONTAM_N}], ' ') AS gram
  FROM ev, LATERAL unnest(range(0, CASE WHEN len(et) < {DECONTAM_N} THEN 0
                                        ELSE len(et) - {DECONTAM_N} + 1 END)) u(ci)
),
gx AS (SELECT {_POLY.format(s="gram")} AS x FROM egrams),
bpos AS ({_BLOOM_POS})
SELECT CAST(pos // 32 AS INT) AS word_idx,
       CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS BIGINT) AS word
FROM bpos GROUP BY 1
"""


_MINHASH_DEDUP_SQL = f"""
WITH dn AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS title
  FROM documents
),
names AS (SELECT DISTINCT title FROM dn WHERE title <> ''),
nn AS (SELECT title, regexp_replace(upper(trim(title)), '\\s+', ' ', 'g') AS s FROM names),
sh AS (
  SELECT DISTINCT title,
         CASE WHEN length(s) <= 9 THEN s ELSE substr(s, CAST(ci AS INT), 9) END AS g
  FROM nn, LATERAL unnest(range(1, CASE WHEN length(s) <= 9 THEN 2
                                       ELSE length(s) - 9 + 2 END)) AS u(ci)
),
shx AS (SELECT title, g, {_POLY.format(s="g")} AS x FROM sh),
perms AS (
  SELECT title, pi, min({_perm("x", "pi")}) AS mh
  FROM shx, LATERAL unnest(range(0, 64)) AS p(pi)
  GROUP BY title, pi
),
bkeys AS (
  SELECT title, CAST(pi // 4 AS INT) AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY pi) AS bh
  FROM perms GROUP BY title, CAST(pi // 4 AS INT)
),
bsizes AS (SELECT band, bh, count(*) AS n FROM bkeys GROUP BY band, bh),
cap AS (
  SELECT k.* FROM bkeys k JOIN bsizes z USING (band, bh) WHERE z.n <= 50
),
cand AS (
  SELECT DISTINCT a.title AS name_a, b.title AS name_b
  FROM cap a JOIN cap b ON a.band = b.band AND a.bh = b.bh AND a.title < b.title
),
ssz AS (SELECT title, count(*) AS n FROM sh GROUP BY title),
cint AS (
  SELECT c.name_a, c.name_b, count(*) AS inter
  FROM cand c
  JOIN sh sa ON sa.title = c.name_a
  JOIN sh sb ON sb.title = c.name_b AND sa.g = sb.g
  GROUP BY c.name_a, c.name_b
),
ver AS (
  SELECT i.name_a, i.name_b,
         CAST(i.inter AS DOUBLE) / CAST(za.n + zb.n - i.inter AS DOUBLE) AS jaccard
  FROM cint i JOIN ssz za ON i.name_a = za.title JOIN ssz zb ON i.name_b = zb.title
  WHERE CAST(i.inter AS DOUBLE) / CAST(za.n + zb.n - i.inter AS DOUBLE)
        >= {NGRAM_THRESHOLD}
)
SELECT least(da.doc_id, db.doc_id) AS id_a,
       greatest(da.doc_id, db.doc_id) AS id_b, v.jaccard
FROM ver v JOIN dn da ON da.title = v.name_a JOIN dn db ON db.title = v.name_b
"""

_SIMHASH_DEDUP_SQL = f"""
WITH stoks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                x -> x <> '')) AS tok
  FROM documents
),
stx AS (SELECT doc_id, {_POLY.format(s="tok")} AS x FROM stoks),
sbits AS (
  SELECT doc_id, bi,
         sum(CASE WHEN {_perm("x", "bi")} % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM stx, LATERAL unnest(range(0, 64)) AS b(bi)
  GROUP BY doc_id, bi
),
ssig AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 AND bi < 63 THEN (CAST(1 AS BIGINT) << CAST(bi AS INT))
                  WHEN v > 0 AND bi = 63 THEN -9223372036854775807 - 1
                  ELSE 0 END) AS sig
  FROM sbits GROUP BY doc_id
),
sigs AS (
  SELECT d.doc_id, coalesce(s.sig, 0) AS sig
  FROM documents d LEFT JOIN ssig s USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""

# hyperplane sign s(d, j) for the LSH signature: parity of a perm hash of
# the flattened (d, j) index — d is the 0-based dimension, via list index i
_SIGN = (
    f"(CASE WHEN (({HASH_A} * ((CAST(i AS BIGINT) - 1) * 16 + pj + 1) + {HASH_C})"
    f" % {HASH_M31}) % 2 = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"
)
_RAW_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len(a.e) + 1), i -> a.e[CAST(i AS INT)] * b.e[CAST(i AS INT)])), "
    "(x, y) -> x + y)"
)
_RAW_NORM_A = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len(a.e) + 1), i -> a.e[CAST(i AS INT)] * a.e[CAST(i AS INT)])), "
    "(x, y) -> x + y))"
)
_RAW_NORM_B = _RAW_NORM_A.replace("a.e", "b.e")

_EMB_NEARDUP_LSH_SQL = f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
bits AS (
  SELECT vec_id, pj,
         CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(1, len(e) + 1),
                  i -> e[CAST(i AS INT)] * {_SIGN})),
                (x, y) -> x + y) > 0 THEN 1 ELSE 0 END AS bit
  FROM emb, LATERAL unnest(range(0, 16)) AS p(pj)
),
keys AS (
  SELECT vec_id, CAST(pj // 4 AS INT) AS band,
         CAST(sum(bit << CAST(pj % 4 AS INT)) AS INT) AS key
  FROM bits GROUP BY vec_id, CAST(pj // 4 AS INT)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keys a JOIN keys b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.id_a, c.id_b,
         CAST(floor({_RAW_DOT} / ({_RAW_NORM_A} * {_RAW_NORM_B})
              * {similarity.SIM_SCALE}) AS BIGINT) AS sim_micro
  FROM cand c JOIN emb a ON a.vec_id = c.id_a JOIN emb b ON b.vec_id = c.id_b
)
SELECT * FROM scored WHERE sim_micro >= {int(NEARDUP_TAU * similarity.SIM_SCALE)}
"""

_ENTITY_SEARCH_BODY = f"""
, enames AS (
  SELECT title AS name FROM kg_nodes
  UNION ALL SELECT '__query__' AS name
),
epad AS (
  SELECT name,
         '  ' || regexp_replace(upper(trim(
             CASE WHEN name = '__query__' THEN 'user zero activity' ELSE name END
         )), '\\s+', ' ', 'g') || '  ' AS s
  FROM enames
),
egrams AS (
  SELECT name, {_POLY.format(s="substr(s, CAST(ci AS INT), 3)")} % 64 AS idx
  FROM epad, LATERAL unnest(range(1, length(s) - 1)) AS u(ci)
),
egcnt AS (SELECT name, idx, CAST(count(*) AS DOUBLE) AS c FROM egrams GROUP BY name, idx),
edims AS (
  SELECT e.name, dj FROM (SELECT DISTINCT name FROM epad) e,
       LATERAL unnest(range(0, 64)) AS d(dj)
),
evec0 AS (
  SELECT d.name, d.dj, coalesce(g.c, 0.0) AS c
  FROM edims d LEFT JOIN egcnt g ON d.name = g.name AND d.dj = g.idx
),
enrm AS (SELECT name, sqrt(sum(c * c)) AS n FROM evec0 GROUP BY name),
-- fp32 roundtrip mirrors the array<float> embedding column exactly
eunit AS (
  SELECT v.name, v.dj,
         CAST(CAST(v.c / r.n AS REAL) AS DOUBLE) AS u
  FROM evec0 v JOIN enrm r USING (name) WHERE r.n > 0
),
elist AS (SELECT name, list(u ORDER BY dj) AS e FROM eunit GROUP BY name),
-- cosine_topk re-normalizes with a sequential fold, then sequential dot
en2 AS (
  SELECT name, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(e) + 1),
             i -> e[CAST(i AS INT)] * e[CAST(i AS INT)])),
         (x, y) -> x + y)) AS nrm
  FROM elist
),
eu2 AS (
  SELECT l.name, list_transform(l.e, x -> x / n.nrm) AS e
  FROM elist l JOIN en2 n USING (name)
),
escored AS (
  SELECT a.name AS title,
         CAST(floor({_RAW_DOT} * {similarity.SIM_SCALE}) AS BIGINT) AS sim_micro
  FROM eu2 a JOIN eu2 b ON b.name = '__query__' AND a.name <> '__query__'
)
SELECT title, sim_micro,
       CAST(row_number() OVER (ORDER BY sim_micro DESC, title) AS INT) AS rk
FROM escored QUALIFY rk <= 5
"""

_HEX = "md5(text)"
_MEDIA_META_SQL = f"""
WITH m AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         CAST(64 + CAST('0x' || substr({_HEX}, 1, 4) AS BIGINT) % 1984 AS INT) AS w,
         CAST(64 + CAST('0x' || substr({_HEX}, 5, 4) AS BIGINT) % 1984 AS INT) AS h,
         CAST(CAST('0x' || substr({_HEX}, 9, 6) AS BIGINT) % 600000 AS INT) AS dur,
         {_HEX} AS fingerprint
  FROM documents
)
SELECT doc_id, media_type, n_bytes,
       CASE WHEN media_type IN ('image', 'video') THEN w ELSE 0 END AS width,
       CASE WHEN media_type IN ('image', 'video') THEN h ELSE 0 END AS height,
       CASE WHEN media_type IN ('audio', 'video') THEN dur ELSE 0 END AS duration_ms,
       fingerprint
FROM m
"""


_FRAME_PLAN_SQL = f"""
WITH meta AS ({_MEDIA_META_SQL})
SELECT doc_id, CAST(unnest(generate_series(0, greatest(duration_ms - 1, 0), 1000)) AS INT)
         AS frame_ts_ms
FROM meta WHERE media_type = 'video'
"""


# Alias-only canonicalization CTEs (shared by canonical_nodes/edges):
# CC over the alias-dictionary edge set — aliases merge THROUGH their
# canonical form even when it is not itself a node title; canonical
# cluster id = lexicographic-min member.
_CANON_CTE = """
, aedges AS (SELECT upper(alias) AS a, upper(canonical_name) AS b FROM alias_dict),
asym AS (SELECT a, b FROM aedges UNION SELECT b AS a, a AS b FROM aedges),
anodes AS (SELECT DISTINCT a AS node FROM asym),
areach(node, r) AS (
  SELECT node, node FROM anodes
  UNION
  SELECT s.a, areach.r FROM asym s JOIN areach ON s.b = areach.node
),
amap AS (SELECT node AS title, min(r) AS canonical FROM areach GROUP BY node),
cmap AS (
  SELECT n.title, coalesce(m.canonical, n.title) AS canonical
  FROM kg_nodes n LEFT JOIN amap m USING (title)
),
ctype AS (
  -- "last non-empty wins" mirrored: argmax of (latest source id, type)
  -- over non-empty types (linking.apply_canonicalization)
  SELECT c.canonical AS title,
         coalesce((max(CASE WHEN n.type <> '' THEN
             {'o': list_extract(string_split(n.source_ids, ','), -1),
              't': n.type} END)).t, '') AS type
  FROM kg_nodes n JOIN cmap c USING (title) GROUP BY c.canonical
),
cdesc_agg AS (
  SELECT canonical AS title,
         string_agg(DISTINCT d, chr(10) ORDER BY d) AS description
  FROM (SELECT c.canonical, unnest(string_split(n.description, chr(10))) AS d
        FROM kg_nodes n JOIN cmap c USING (title))
  GROUP BY canonical
),
csrc_agg AS (
  SELECT canonical AS title,
         string_agg(DISTINCT s, ',' ORDER BY s) AS source_ids
  FROM (SELECT c.canonical, unnest(string_split(n.source_ids, ',')) AS s
        FROM kg_nodes n JOIN cmap c USING (title))
  GROUP BY canonical
)
"""

# Query-side (read model) constants shared with the oracles.
RELATED_ENTITY = "ITEM_0"
SELECTED_ENTITIES = ["USER_0", "ITEM_0", "EVT_CLICK"]
TOP_ENTITIES_K = 10


def q_top_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    nwd = s["nodes"].join(s["degrees"], "title", "left").withColumn(
        "degree", F.coalesce("degree", F.lit(0))
    )
    return query_ops.top_entities_by_rank(nwd, k=TOP_ENTITIES_K)


def q_related_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    ranked = with_edge_rank(s["edges"], s["degrees"])
    return query_ops.related_entities(ranked, RELATED_ENTITY, k=TOP_ENTITIES_K).select(
        "neighbor", F.col("weight").cast("double").alias("weight"), "rank", "rk"
    )


def q_out_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    ranked = with_edge_rank(s["edges"], s["degrees"])
    selected = spark.createDataFrame([(t,) for t in SELECTED_ENTITIES], "title string")
    _, out_net = query_ops.split_network_relationships(ranked, selected)
    return out_net.select(
        "source",
        "target",
        F.col("weight").cast("double").alias("weight"),
        "rank",
        "external",
        "links",
    )


def q_community_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _stages(spark, sf_dir)
    comm = connected_components(s["nodes"], s["edges"]).select(
        "title", F.col("component").alias("community")
    )
    return query_ops.community_weight(s["nodes"], comm).select(
        "community", "n_text_units", "normalized_weight"
    )


# ---------------------------------------------------------------------------
# Oracles for claims / summarization / community reports.
# ---------------------------------------------------------------------------

_CLAIMS_BODY = f"""
, cl AS (
  SELECT conv_id, turn_idx,
         regexp_extract(text, '{claims_ops.CLAIM_SUBJECT_RE}', 1) AS subj,
         regexp_extract(text, '{claims_ops.CLAIM_SUBJECT_RE}', 2) AS typ,
         regexp_extract(text, '{claims_ops.CLAIM_SUBJECT_RE}', 3) AS obj,
         strftime(ts, '%Y-%m-%d') AS start_date,
         text AS source_text,
         conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 10, '0') AS ord
  FROM transcripts
  WHERE regexp_extract(text, '{claims_ops.CLAIM_SUBJECT_RE}', 1) <> ''
),
linked AS (
  SELECT coalesce(sa.canonical_name, c.subj) AS subject_id,
         coalesce(oa.canonical_name, c.obj) AS object_id,
         c.typ AS claim_type,
         '{claims_ops.CLAIM_STATUS}' AS status,
         c.start_date,
         '{claims_ops.NO_DATE}' AS end_date,
         c.subj || ' ' || c.typ || ' ' || c.obj AS description,
         c.source_text, c.conv_id, c.ord
  FROM cl c
  LEFT JOIN alias_dict sa ON upper(c.subj) = upper(sa.alias)
  LEFT JOIN alias_dict oa ON upper(c.obj) = upper(oa.alias)
),
cmerged AS (
  SELECT subject_id,
         arg_min(object_id, ord) AS object_id,
         arg_min(claim_type, ord) AS claim_type,
         arg_min(status, ord) AS status,
         arg_min(start_date, ord) AS start_date,
         arg_min(end_date, ord) AS end_date,
         string_agg(DISTINCT description, ' ' ORDER BY description) AS description,
         string_agg(DISTINCT source_text, '|' ORDER BY source_text) AS source_texts,
         string_agg(DISTINCT conv_id, ',' ORDER BY conv_id) AS doc_ids,
         CAST(count(*) AS BIGINT) AS n_claims
  FROM linked GROUP BY subject_id
)
SELECT sha256(subject_id) AS id, subject_id, object_id, claim_type, status,
       start_date, end_date, description, source_texts, doc_ids, n_claims,
       CAST(row_number() OVER (ORDER BY subject_id) - 1 AS BIGINT) AS human_readable_id
FROM cmerged
"""

# Canonicalization: SQL MinHash-LSH (num_perm=32, bands=8, k=3 shingles,
# bucket cap 50) + jaccard>=0.5 verify + alias edges + recursive-CTE CC
# with min-label canonical — the full q_canonicalization dataflow.
_CANONICALIZATION_BODY = f"""
, nnm AS (
  SELECT title, regexp_replace(upper(trim(title)), '\\s+', ' ', 'g') AS s
  FROM kg_nodes
),
csh AS (
  SELECT DISTINCT title,
         CASE WHEN length(s) <= 3 THEN s ELSE substr(s, CAST(ci AS INT), 3) END AS g
  FROM nnm, LATERAL unnest(range(1, CASE WHEN length(s) <= 3 THEN 2
                                        ELSE length(s) - 3 + 2 END)) AS u(ci)
  WHERE s <> ''
),
cshx AS (SELECT title, g, {_POLY.format(s="g")} AS x FROM csh),
cperms AS (
  SELECT title, pi, min({_perm("x", "pi")}) AS mh
  FROM cshx, LATERAL unnest(range(0, 32)) AS p(pi)
  GROUP BY title, pi
),
cbk AS (
  SELECT title, CAST(pi // 4 AS INT) AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY pi) AS bh
  FROM cperms GROUP BY title, CAST(pi // 4 AS INT)
),
cbsz AS (SELECT band, bh, count(*) AS n FROM cbk GROUP BY band, bh),
ccap AS (SELECT k.* FROM cbk k JOIN cbsz z USING (band, bh) WHERE z.n <= 50),
ccand AS (
  SELECT DISTINCT a.title AS name_a, b.title AS name_b
  FROM ccap a JOIN ccap b ON a.band = b.band AND a.bh = b.bh AND a.title < b.title
),
cssz AS (SELECT title, count(*) AS n FROM csh GROUP BY title),
ccint AS (
  SELECT c.name_a, c.name_b, count(*) AS inter
  FROM ccand c
  JOIN csh sa ON sa.title = c.name_a
  JOIN csh sb ON sb.title = c.name_b AND sa.g = sb.g
  GROUP BY c.name_a, c.name_b
),
cver AS (
  SELECT i.name_a, i.name_b
  FROM ccint i JOIN cssz za ON i.name_a = za.title JOIN cssz zb ON i.name_b = zb.title
  WHERE CAST(i.inter AS DOUBLE) / CAST(za.n + zb.n - i.inter AS DOUBLE) >= 0.5
),
cedges AS (
  SELECT name_a AS a, name_b AS b FROM cver
  UNION SELECT upper(alias) AS a, upper(canonical_name) AS b FROM alias_dict
),
ccsym AS (SELECT a, b FROM cedges UNION SELECT b AS a, a AS b FROM cedges),
cctouched AS (SELECT DISTINCT a AS node FROM ccsym),
ccreach(node, r) AS (
  SELECT node, node FROM cctouched
  UNION
  SELECT s.a, ccreach.r FROM ccsym s JOIN ccreach ON s.b = ccreach.node
),
cccomp AS (SELECT node, min(r) AS comp FROM ccreach GROUP BY node)
SELECT n.title, coalesce(c.comp, n.title) AS canonical
FROM kg_nodes n LEFT JOIN cccomp c ON n.title = c.node
"""

# ---------------------------------------------------------------------------
# LPA oracles (communities_lpa, community_hierarchy).  Synchronous weighted
# LPA is vote-based, not reachability, so a recursive CTE can't express it —
# but the round count is bounded (max_iter=10) and the update is a
# deterministic function of the previous round's labels, so a FIXED
# 10-round unroll agrees with the Spark loop in every case: once the
# fixpoint is reached the update is the identity (extra unrolled rounds are
# no-ops), and if it oscillates or never converges both engines report the
# labels after exactly round 10.  Scores are sums of integer-valued double
# weights (< 2^53), so cross-engine float equality in the argmax is exact.
# ---------------------------------------------------------------------------

LPA_MAX_ITER = 10  # community.label_propagation default; unroll must match


def _lpa_rounds_sql(nodes_cte: str, sym_cte: str, prefix: str,
                    rounds: int = LPA_MAX_ITER,
                    init_cte: str | None = None) -> str:
    """Chained CTEs for ``rounds`` synchronous weighted-LPA rounds.

    Mirrors community.label_propagation:199-231 exactly: per round every
    node with neighbors adopts the lexicographic-min label among the
    max-total-incident-weight neighbor labels; isolated nodes keep their
    label.  ``nodes_cte`` must expose (node), ``sym_cte`` (a, b, w) with
    both edge directions.  Final labels are in CTE ``{prefix}l{rounds}``.

    ``init_cte`` (exposing (node, label) for every node in ``nodes_cte``)
    replaces the self-label round 0 — the warm-start mirror of
    community.label_propagation's ``init_labels``.
    """
    l0 = (
        f"SELECT node, label FROM {init_cte}"
        if init_cte
        else f"SELECT node, node AS label FROM {nodes_cte}"
    )

    def step(k: int) -> str:
        prev = f"{prefix}l{k - 1}"
        return (
            f"{prefix}s{k} AS MATERIALIZED (\n"
            f"  SELECT e.a, l.label, sum(e.w) AS score\n"
            f"  FROM {sym_cte} e JOIN {prev} l ON l.node = e.b\n"
            f"  GROUP BY e.a, l.label\n),\n"
            f"{prefix}b{k} AS MATERIALIZED (\n"
            f"  SELECT a, min(label) AS nl FROM (\n"
            f"    SELECT a, label, score, max(score) OVER (PARTITION BY a) AS mx\n"
            f"    FROM {prefix}s{k}\n"
            f"  ) WHERE score = mx GROUP BY a\n),\n"
            f"{prefix}l{k} AS MATERIALIZED (\n"
            f"  SELECT l.node, coalesce(b.nl, l.label) AS label\n"
            f"  FROM {prev} l LEFT JOIN {prefix}b{k} b ON b.a = l.node\n)"
        )

    return f"{prefix}l0 AS MATERIALIZED ({l0})" + _unroll(rounds, step)


def _pr_body(
    rounds: int = PR_ITER,
    weighted: bool = False,
    edges_cte: str = "kg_edges",
    prefix: str = "pr_",
    init_cte: str | None = None,
    final_select: bool = True,
) -> str:
    """Unrolled fixed-round integer PageRank over ``edges_cte`` (default
    kg_edges) — mirrors graphops.pagerank_int bit-for-bit (all-BIGINT
    arithmetic, `//` ≡ Spark's DIV on positives).  With ``weighted``,
    mass splits by each edge's share of the source's total incident
    weight (pagerank_int's weight= path); ``edges_cte`` must expose
    (source, target[, weight]).

    ``prefix`` namespaces the CTEs so two unrolls compose in one query;
    ``init_cte`` names a (title, rank_scaled) CTE that seeds round 0 —
    nodes absent from it take the cold scale//n value (mirrors
    pagerank_int's ``init_ranks`` warm-start).  ``final_select=False``
    emits only the CTE chain (for composition)."""
    from knowledge_graph_spark.operators.graphops import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
    )

    p = prefix
    w_expr = "CAST(weight AS BIGINT)" if weighted else "CAST(1 AS BIGINT)"
    if init_cte is None:
        r0 = f"""
{p}r0 AS MATERIALIZED (
  SELECT title, CAST((SELECT {PR_SCALE} // n FROM {p}n) AS BIGINT) AS rank_scaled
  FROM {p}nodes
)"""
    else:
        r0 = f"""
{p}r0 AS MATERIALIZED (
  SELECT n.title,
         CAST(coalesce(i.rank_scaled, (SELECT {PR_SCALE} // n FROM {p}n))
              AS BIGINT) AS rank_scaled
  FROM {p}nodes n LEFT JOIN {init_cte} i ON i.title = n.title
)"""
    base = (
        f"(SELECT ({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM}) "
        f"// ({PR_DAMP_DEN} * n) FROM {p}n)"
    )
    sql = f"""
, {p}sym AS MATERIALIZED (
  SELECT source AS u, target AS v, {w_expr} AS w FROM {edges_cte}
  UNION ALL
  SELECT target AS u, source AS v, {w_expr} AS w FROM {edges_cte}
),
{p}nodes AS MATERIALIZED (SELECT DISTINCT u AS title FROM {p}sym),
{p}n AS (SELECT count(*) AS n FROM {p}nodes),
{p}adj AS MATERIALIZED (
  SELECT e.u, e.v, e.w, o.outw
  FROM {p}sym e JOIN (SELECT u, CAST(sum(w) AS BIGINT) AS outw
                      FROM {p}sym GROUP BY u) o ON e.u = o.u
),{r0}""" + _unroll(
        rounds,
        lambda k: f"""{p}c{k} AS MATERIALIZED (
  SELECT a.v, CAST(sum((r.rank_scaled * {PR_DAMP_NUM} * a.w) // ({PR_DAMP_DEN} * a.outw))
                   AS BIGINT) AS inflow
  FROM {p}adj a JOIN {p}r{k - 1} r ON r.title = a.u GROUP BY a.v
),
{p}r{k} AS MATERIALIZED (
  SELECT n.title, CAST({base} + coalesce(c.inflow, 0) AS BIGINT) AS rank_scaled
  FROM {p}nodes n LEFT JOIN {p}c{k} c ON c.v = n.title
)""",
    )
    if final_select:
        sql += f"\nSELECT title, rank_scaled FROM {p}r{rounds}\n"
    return sql


def _katz_body(rounds: int = KATZ_ITER) -> str:
    """Unrolled fixed-round integer Katz centrality over kg_edges —
    mirrors graphops.katz_int bit-for-bit (x_{{t+1}} = scale +
    Σ in-neighbors (x_t · att_num) // att_den on the symmetrized edge
    list, x_0 = 0; all BIGINT, `//` ≡ Spark DIV on non-negatives)."""
    from knowledge_graph_spark.operators.graphops import (
        KATZ_ATT_DEN,
        KATZ_ATT_NUM,
        KATZ_SCALE,
    )

    def step(k: int) -> str:
        return f"""kz_c{k} AS MATERIALIZED (
  SELECT e.v, CAST(sum((x.katz_scaled * {KATZ_ATT_NUM}) // {KATZ_ATT_DEN})
                   AS BIGINT) AS inflow
  FROM kz_sym e JOIN kz_x{k - 1} x ON x.title = e.u GROUP BY e.v
),
kz_x{k} AS MATERIALIZED (
  SELECT n.title, CAST({KATZ_SCALE} + coalesce(c.inflow, 0) AS BIGINT) AS katz_scaled
  FROM kz_nodes n LEFT JOIN kz_c{k} c ON c.v = n.title
)"""

    return f"""
, kz_sym AS MATERIALIZED (
  SELECT source AS u, target AS v FROM kg_edges
  UNION ALL
  SELECT target AS u, source AS v FROM kg_edges
),
kz_nodes AS MATERIALIZED (SELECT DISTINCT u AS title FROM kz_sym),
kz_x0 AS MATERIALIZED (
  SELECT title, CAST(0 AS BIGINT) AS katz_scaled FROM kz_nodes
){_unroll(rounds, step)}
SELECT title, katz_scaled FROM kz_x{rounds}
"""


def _tlp_body(rounds: int = TLP_ROUNDS, mask_mod: int = TLP_MASK_MOD) -> str:
    """Unrolled seeded type propagation over kg_nodes/kg_edges — mirrors
    graphops.seeded_type_propagation: seeds clamp their extracted type,
    masked nodes adopt the max-weight (tie → min) neighbour type each
    round; all scores are BIGINT sums of the integer edge weights."""
    poly = _POLY.format(s="title")

    def step(r: int) -> str:
        return f"""tlp_s{r} AS (
  SELECT e.a AS title, l.label, CAST(sum(e.w) AS BIGINT) AS score
  FROM tlp_adj e JOIN tlp_l{r - 1} l ON e.b = l.title
  WHERE l.label IS NOT NULL GROUP BY e.a, l.label),
tlp_b{r} AS (
  SELECT title, label FROM (
    SELECT title, label,
           row_number() OVER (PARTITION BY title
                              ORDER BY score DESC, label ASC) AS rn
    FROM tlp_s{r}) WHERE rn = 1),
tlp_l{r} AS MATERIALIZED (
  SELECT n.title, CASE WHEN n.is_seed THEN n.true_type ELSE b.label END AS label
  FROM tlp_base n LEFT JOIN tlp_b{r} b USING (title))"""

    return f"""
, tlp_base AS MATERIALIZED (
  SELECT title, type AS true_type, ({poly}) % {mask_mod} <> 0 AS is_seed
  FROM kg_nodes),
tlp_adj AS MATERIALIZED (
  SELECT source AS a, target AS b, CAST(weight AS BIGINT) AS w
  FROM kg_edges WHERE source <> target
  UNION ALL
  SELECT target, source, CAST(weight AS BIGINT)
  FROM kg_edges WHERE source <> target),
tlp_l0 AS (
  SELECT title, CASE WHEN is_seed THEN true_type END AS label FROM tlp_base){_unroll(rounds, step)}
SELECT n.title, n.is_seed, n.true_type, l.label AS pred_type,
       (l.label = n.true_type) AS correct
FROM tlp_base n JOIN tlp_l{rounds} l USING (title)
"""


def _msf_body(rounds: int = MSF_ROUNDS, as_cte: str | None = None) -> str:
    """Unrolled Borůvka MSF over kg_edges — mirrors graphops.
    min_spanning_forest round-for-round: per round every component picks
    its min-(weight, "a|b") outgoing edge (top-1 window over both
    directed copies, deduped — a cut's two sides may pick the same
    edge), then components contract to the min label reachable over the
    SELECTED edges (one recursive min-reach CTE per round, the same
    fixpoint the Spark side's pointer-doubling CC computes)."""

    def step(r: int) -> str:
        return f"""msf_ec{r} AS MATERIALIZED (
  SELECT ca.comp AS c1, cb.comp AS c2, e.a, e.b, e.w, e.estr
  FROM msf_es e
  JOIN msf_c{r - 1} ca ON e.a = ca.node
  JOIN msf_c{r - 1} cb ON e.b = cb.node
  WHERE ca.comp <> cb.comp),
msf_sel{r} AS MATERIALIZED (
  SELECT DISTINCT a, b, w, estr FROM (
    SELECT a, b, w, estr,
           row_number() OVER (PARTITION BY c ORDER BY w, estr) AS rn
    FROM (SELECT c1 AS c, a, b, w, estr FROM msf_ec{r}
          UNION ALL SELECT c2, a, b, w, estr FROM msf_ec{r})
  ) WHERE rn = 1),
msf_sc{r} AS (
  SELECT DISTINCT ca.comp AS x, cb.comp AS y
  FROM msf_sel{r} e
  JOIN msf_c{r - 1} ca ON e.a = ca.node
  JOIN msf_c{r - 1} cb ON e.b = cb.node),
msf_reach{r}(c, t) AS (
  SELECT comp, comp FROM (SELECT DISTINCT comp FROM msf_c{r - 1})
  UNION
  SELECT s.x, rr.t
  FROM (SELECT x, y FROM msf_sc{r} UNION SELECT y, x FROM msf_sc{r}) s
  JOIN msf_reach{r} rr ON s.y = rr.c),
msf_cm{r} AS MATERIALIZED (
  SELECT c AS comp, min(t) AS newc FROM msf_reach{r} GROUP BY c),
msf_c{r} AS MATERIALIZED (
  SELECT n.node, m.newc AS comp FROM msf_c{r - 1} n JOIN msf_cm{r} m USING (comp))"""

    union = "\nUNION ALL\n".join(
        f"SELECT a AS source, b AS target, CAST(w AS DOUBLE) AS weight,"
        f" CAST({r} AS INT) AS round FROM msf_sel{r}"
        for r in range(1, rounds + 1)
    )
    sql = """
, msf_e0 AS MATERIALIZED (
  SELECT least(source, target) AS a, greatest(source, target) AS b,
         min(weight) AS w
  FROM kg_edges WHERE source <> target GROUP BY 1, 2),
msf_es AS (SELECT a, b, w, a || '|' || b AS estr FROM msf_e0),
msf_c0 AS MATERIALIZED (
  SELECT DISTINCT node, node AS comp FROM (
    SELECT a AS node FROM msf_es UNION ALL SELECT b FROM msf_es))""" + _unroll(
        rounds, step
    )
    if as_cte:
        return sql + f",\n{as_cte} AS MATERIALIZED (\n{union}\n)"
    return sql + "\n" + union + "\n"


def _densest_body(rounds: int = DN_ROUNDS, eps_num: int = 11, eps_den: int = 10) -> str:
    """Unrolled Bahmani densest-subgraph peel over kg_edges — mirrors
    graphops.densest_subgraph: per round drop every remaining node with
    deg·|V|·eps_den ≤ 2·|E|·eps_num (coalesce(deg,0) folds the isolated
    survivors into the same rule), record the prefix stats, and pick the
    argmax-(2E/V) prefix (double division — identical IEEE754 on both
    engines), ties to the earliest round."""

    def step(r: int) -> str:
        return f"""dn_st{r} AS MATERIALIZED (
  SELECT (SELECT count(*) FROM dn_n{r - 1}) AS nv,
         (SELECT count(*) FROM dn_e{r - 1}) AS ne),
dn_deg{r} AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM dn_e{r - 1} UNION ALL SELECT b FROM dn_e{r - 1})
  GROUP BY node),
dn_drop{r} AS MATERIALIZED (
  SELECT n.node FROM dn_n{r - 1} n
  LEFT JOIN dn_deg{r} d ON n.node = d.node
  CROSS JOIN dn_st{r} s
  WHERE coalesce(d.deg, 0) * s.nv * {eps_den} <= 2 * s.ne * {eps_num}),
dn_n{r} AS MATERIALIZED (
  SELECT node FROM dn_n{r - 1}
  WHERE node NOT IN (SELECT node FROM dn_drop{r})),
dn_e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM dn_e{r - 1} e
  WHERE e.a IN (SELECT node FROM dn_n{r})
    AND e.b IN (SELECT node FROM dn_n{r}))"""

    peel_union = "\nUNION ALL\n".join(
        f"SELECT node, {r} AS pr FROM dn_drop{r}" for r in range(1, rounds + 1)
    )
    stats_union = "\nUNION ALL\n".join(
        f"SELECT {r - 1} AS rp, nv, ne FROM dn_st{r}" for r in range(1, rounds + 1)
    )
    return f"""
, dn_e0 AS MATERIALIZED (
  SELECT DISTINCT least(source, target) AS a, greatest(source, target) AS b
  FROM kg_edges WHERE source <> target),
dn_n0 AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT a AS node FROM dn_e0 UNION ALL SELECT b FROM dn_e0)){_unroll(rounds, step)},
dn_peel AS ({peel_union}),
dn_stats AS ({stats_union}),
dn_best AS (
  SELECT rp FROM dn_stats WHERE nv > 0
  ORDER BY (2.0 * ne) / nv DESC, rp ASC LIMIT 1)
SELECT n.node,
       CAST(coalesce(p.pr, 0) AS INT) AS peel_round,
       (coalesce(p.pr, 0) = 0 OR coalesce(p.pr, 0) > b.rp) AS in_best
FROM dn_n0 n
LEFT JOIN dn_peel p USING (node)
CROSS JOIN dn_best b
"""


def _mm_body(
    rounds: int = MM_ROUNDS,
    as_cte: str | None = None,
    src: str = "kg_edges",
    prefix: str = "mm",
) -> str:
    """Unrolled symmetric-proposal maximal matching over ``src`` (any
    CTE/table exposing source/target columns) — mirrors graphops.
    maximal_matching: per round each remaining node proposes its
    min-(perm_r(fingerprint), string)-key incident edge; an edge matches
    iff proposed by BOTH endpoints (exactly 2 of its directed rows join
    the proposal table).  ``prefix`` namespaces the CTEs so two matching
    levels can coexist in one oracle (the coarsening hierarchy)."""
    poly = _POLY.format(s="estr")
    p = prefix

    def step(r: int) -> str:
        return f"""{p}_key{r} AS (SELECT a, b, estr, {_perm('ex', str(r))} AS pri FROM {p}_er{r - 1}),
{p}_prop{r} AS (
  SELECT a, estr AS pestr FROM (
    SELECT a, estr, row_number() OVER (PARTITION BY a ORDER BY pri, estr) AS rn
    FROM {p}_key{r}) WHERE rn = 1),
{p}_m{r} AS MATERIALIZED (
  SELECT min(least(k.a, k.b)) AS source, min(greatest(k.a, k.b)) AS target,
         CAST({r} AS INT) AS round
  FROM {p}_key{r} k JOIN {p}_prop{r} p ON k.a = p.a AND k.estr = p.pestr
  GROUP BY k.estr HAVING count(*) = 2),
{p}_mn{r} AS (SELECT source AS n FROM {p}_m{r}
             UNION ALL SELECT target FROM {p}_m{r}),
{p}_er{r} AS MATERIALIZED (
  SELECT e.* FROM {p}_er{r - 1} e
  WHERE e.a NOT IN (SELECT n FROM {p}_mn{r})
    AND e.b NOT IN (SELECT n FROM {p}_mn{r}))"""

    union = "\nUNION ALL\n".join(
        f"SELECT source, target, round FROM {p}_m{r}" for r in range(1, rounds + 1)
    )
    sql = f"""
, {p}_e0 AS (
  SELECT DISTINCT least(source, target) AS a, greatest(source, target) AS b
  FROM {src} WHERE source <> target),
{p}_s0 AS (SELECT a, b, a || '|' || b AS estr FROM {p}_e0),
{p}_k0 AS (SELECT a, b, estr, {poly} AS ex FROM {p}_s0),
{p}_er0 AS MATERIALIZED (
  SELECT a, b, ex, estr FROM {p}_k0
  UNION ALL SELECT b, a, ex, estr FROM {p}_k0){_unroll(rounds, step)}"""
    if as_cte:
        return sql + f",\n{as_cte} AS MATERIALIZED (\n{union}\n)"
    return sql + f"\n{union}\n"


# One matching contraction over kg_edges: the unrolled matching, the
# node → supernode map (a matched pair maps to its least endpoint) and
# the kg_edges rewritten onto supernodes, aggregated by _CO_AGG.
_CO_CTES = _mm_body(as_cte="mm_res") + """
, co_map AS (
  SELECT source AS node, source AS super FROM mm_res
  UNION ALL SELECT target AS node, source AS super FROM mm_res
),
co_e AS (
  SELECT coalesce(ms.super, e.source) AS msn,
         coalesce(mt.super, e.target) AS mtn,
         e.weight AS w0
  FROM kg_edges e
  LEFT JOIN co_map ms ON e.source = ms.node
  LEFT JOIN co_map mt ON e.target = mt.node
)"""
_CO_AGG = """SELECT least(msn, mtn) AS a, greatest(msn, mtn) AS b,
       CAST(sum(w0) AS DOUBLE) AS w, CAST(count(*) AS BIGINT) AS n_multi
FROM co_e GROUP BY least(msn, mtn), greatest(msn, mtn)"""


def _coarsen_body() -> str:
    """Matching contraction over kg_edges — mirrors graphops.
    coarsen_by_matching on top of the unrolled matching CTEs: matched
    pairs collapse to their least endpoint, unmatched nodes stay, coarse
    parallel edges aggregate (a==b rows are the contracted self-loops).
    """
    return f"{_CO_CTES}\n{_CO_AGG}\n"


def _coarsen_hier_body() -> str:
    """Two-level matching-contraction — mirrors graphops.
    coarsen_hierarchy: level-1 matching over kg_edges + contraction
    (fine-edge counts), then a SECOND matching over the level-1 coarse
    non-self-loop edges (namespaced CTEs) + contraction that SUMS the
    carried n_multi so original-edge provenance survives."""
    return (
        f"""{_CO_CTES},
co1 AS MATERIALIZED (
{_CO_AGG}
),
co1e AS (SELECT a AS source, b AS target FROM co1 WHERE a <> b)
"""
        + _mm_body(as_cte="m2_res", src="co1e", prefix="m2")
        + """
, co_map2 AS (
  SELECT source AS node, source AS super FROM m2_res
  UNION ALL SELECT target AS node, source AS super FROM m2_res
),
co_e2 AS (
  SELECT coalesce(ms.super, e.a) AS msn,
         coalesce(mt.super, e.b) AS mtn,
         e.w AS w0, e.n_multi AS c0
  FROM co1 e
  LEFT JOIN co_map2 ms ON e.a = ms.node
  LEFT JOIN co_map2 mt ON e.b = mt.node
)
SELECT least(msn, mtn) AS a, greatest(msn, mtn) AS b,
       CAST(sum(w0) AS DOUBLE) AS w, CAST(sum(c0) AS BIGINT) AS n_multi
FROM co_e2 GROUP BY least(msn, mtn), greatest(msn, mtn)
"""
    )


def _asof_oracle() -> str:
    """kg_asof oracle: the FULL pipeline prelude re-run over transcripts
    filtered to the integer midpoint of [min, max] turn epoch — built by
    substituting the prelude's transcripts CTE, so the two pipelines
    can never drift (one source of truth for every downstream stage)."""
    asof_prelude = ORACLE_PRELUDE.replace(
        f"transcripts AS ({TRANSCRIPTS_SQL})",
        f"""transcripts_all AS ({TRANSCRIPTS_SQL}),
asof_cut AS (
  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
          + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS cut
  FROM transcripts_all
),
transcripts AS (
  SELECT t.* FROM transcripts_all t, asof_cut
  WHERE CAST(floor(epoch(t.ts)) AS BIGINT) <= cut
)""",
        1,
    )
    return (
        f"WITH RECURSIVE {asof_prelude} "
        "SELECT source, target, CAST(weight AS DOUBLE) AS weight FROM kg_edges"
    )


_PRELUDE_CTE_NAMES = (
    "transcripts",
    "conv_docs",
    "toks",
    "text_units",
    "ment_occ",
    "first_ment",
    "ent_records",
    "rel_records",
    "kg_nodes",
    "kg_edges",
    "degrees",
    "alias_dict",
)


def _namespaced_prelude(prefix: str) -> str:
    """ORACLE_PRELUDE with every CTE name prefixed, so a SECOND full
    pipeline derivation can ride in the same WITH chain as the standard
    prelude (the kg_diff oracle needs the as-of snapshot AND the current
    graph in one query).  Pure word-boundary rename; TRANSCRIPTS_SQL is
    collision-checked (its identifiers never shadow a prelude CTE)."""
    import re as _re

    s = ORACLE_PRELUDE
    for nm in _PRELUDE_CTE_NAMES:
        s = _re.sub(rf"\b{nm}\b", f"{prefix}{nm}", s)
    return s


def _kg_diff_body() -> str:
    """kg_diff oracle: the standard prelude's kg_edges (current graph)
    full-outer-joined against a namespaced as-of re-derivation (the
    _asof_oracle substitution applied to an ``old_``-prefixed prelude
    copy) — mirrors temporal.kg_version_diff's status/delta algebra."""
    old = _namespaced_prelude("old_")
    target = f"old_transcripts AS ({TRANSCRIPTS_SQL})"
    # Fail loudly at oracle-build time if the prelude's first-CTE
    # rendering ever drifts: a silent no-op replace would diff the full
    # graph against itself and only surface as a gate hash mismatch.
    assert target in old, "kg_diff oracle: prelude CTE rendering drifted"
    old = old.replace(
        target,
        f"""old_transcripts_all AS ({TRANSCRIPTS_SQL}),
old_asof_cut AS (
  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
          + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS cut
  FROM old_transcripts_all
),
old_transcripts AS (
  SELECT t.* FROM old_transcripts_all t, old_asof_cut
  WHERE CAST(floor(epoch(t.ts)) AS BIGINT) <= cut
)""",
        1,
    )
    return f""",
{old}
, kgd AS (
  SELECT coalesce(o.source, n.source) AS source,
         coalesce(o.target, n.target) AS target,
         CAST(o.weight AS DOUBLE) AS w_old,
         CAST(n.weight AS DOUBLE) AS w_new
  FROM old_kg_edges o FULL OUTER JOIN kg_edges n
    ON o.source = n.source AND o.target = n.target
)
SELECT source, target, w_old, w_new,
       coalesce(w_new, 0) - coalesce(w_old, 0) AS delta,
       CASE WHEN w_old IS NULL THEN 'added'
            WHEN w_new IS NULL THEN 'removed'
            WHEN w_old <> w_new THEN 'changed'
            ELSE 'same' END AS status
FROM kgd
"""


def _retract_oracle() -> str:
    """kg_retract oracle: the FULL pipeline prelude re-run over
    transcripts with the fingerprint-selected conversations REMOVED —
    the same substitution device as _asof_oracle, so equality proves the
    Spark side's anti-join-on-records retraction is bit-identical to a
    ground-up rebuild on the retained corpus."""
    poly = _POLY.format(s="conv_id")
    retract_prelude = ORACLE_PRELUDE.replace(
        f"transcripts AS ({TRANSCRIPTS_SQL})",
        f"""transcripts_all AS ({TRANSCRIPTS_SQL}),
transcripts AS (
  SELECT * FROM transcripts_all WHERE ({poly}) % {RETRACT_MOD} <> 0
)""",
        1,
    )
    return (
        f"WITH RECURSIVE {retract_prelude} "
        "SELECT source, target, CAST(weight AS DOUBLE) AS weight FROM kg_edges"
    )


def _bw_body() -> str:
    """Unrolled sampled-Brandes betweenness — mirrors
    graphops.betweenness_sampled bit-for-bit: top-BW_SOURCES-degree
    pivots, BW_ROUNDS level-synchronous forward rounds counting exact
    BIGINT σ, then BW_ROUNDS backward rounds accumulating δ in scaled
    integers via (σ_u · (SCALE + δ_w)) // σ_w (floor div ≡ Spark DIV on
    non-negatives); δ at the source level is excluded."""
    from knowledge_graph_spark.operators.graphops import (
        BW_ROUNDS,
        BW_SCALE,
        BW_SOURCES,
    )

    r_max = BW_ROUNDS

    def forward(r: int) -> str:
        return f"""bw_c{r} AS (
  SELECT v.s, e.b AS title, CAST(sum(v.sigma) AS BIGINT) AS sigma
  FROM bw_v{r - 1} v JOIN bw_sym e ON e.a = v.title
  WHERE v.dist = {r - 1} GROUP BY v.s, e.b
),
bw_v{r} AS MATERIALIZED (
  SELECT * FROM bw_v{r - 1}
  UNION ALL
  SELECT c.s, c.title, {r} AS dist, c.sigma
  FROM bw_c{r} c LEFT JOIN bw_v{r - 1} x ON x.s = c.s AND x.title = c.title
  WHERE x.title IS NULL
)"""

    def backward(r: int) -> str:
        # round r of the back-sweep fills bw_d{lvl - 1} from bw_d{lvl}
        lvl = r_max - r + 1
        return f"""bw_d{lvl - 1} AS MATERIALIZED (
  SELECT p.s, p.title, p.sigma, CAST(coalesce(c.delta, 0) AS BIGINT) AS delta
  FROM (SELECT * FROM bw_v{r_max} WHERE dist = {lvl - 1}) p
  LEFT JOIN (
    SELECT p2.s, p2.title,
           sum((p2.sigma * ({BW_SCALE} + d.delta)) // d.sigma) AS delta
    FROM (SELECT * FROM bw_v{r_max} WHERE dist = {lvl - 1}) p2
    JOIN bw_sym e ON e.a = p2.title
    JOIN bw_d{lvl} d ON d.s = p2.s AND d.title = e.b
    GROUP BY p2.s, p2.title
  ) c ON c.s = p.s AND c.title = p.title
)"""

    acc = " UNION ALL ".join(
        f"SELECT title, delta FROM bw_d{lvl}" for lvl in range(1, r_max)
    ) or "SELECT NULL AS title, CAST(0 AS BIGINT) AS delta WHERE FALSE"
    # Backward: bw_d{lvl} holds δ for nodes at dist lvl; deepest is 0.
    return f"""
, bw_sym AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT source AS a, target AS b FROM kg_edges
    UNION ALL
    SELECT target AS a, source AS b FROM kg_edges
  )
),
bw_nodes AS MATERIALIZED (SELECT DISTINCT a AS title FROM bw_sym),
bw_src AS MATERIALIZED (
  SELECT a AS title FROM bw_sym GROUP BY a
  ORDER BY count(*) DESC, a ASC LIMIT {BW_SOURCES}
),
bw_v0 AS MATERIALIZED (
  SELECT title AS s, title, 0 AS dist, CAST(1 AS BIGINT) AS sigma FROM bw_src
){_unroll(r_max, forward)},
bw_d{r_max} AS MATERIALIZED (
  SELECT s, title, sigma, CAST(0 AS BIGINT) AS delta
  FROM bw_v{r_max} WHERE dist = {r_max}
){_unroll(r_max, backward)}
SELECT n.title,
       CAST(coalesce(t.bc, 0) AS BIGINT) AS betweenness_scaled
FROM bw_nodes n LEFT JOIN (
  SELECT title, sum(delta) AS bc FROM ({acc}) GROUP BY title
) t ON t.title = n.title
"""


def _wp_body(rounds: int = WIDEST_ROUNDS) -> str:
    """Unrolled fixed-round widest-path (max-min bottleneck) from the
    top-degree seed — mirrors graphops.widest_paths bit-for-bit (int64
    edge weights; seed strength WIDEST_SEED_STRENGTH stands in for +inf)."""
    from knowledge_graph_spark.operators.graphops import WIDEST_SEED_STRENGTH

    def step(k: int) -> str:
        return f"""wp_s{k} AS MATERIALIZED (
  SELECT title, CAST(max(strength) AS BIGINT) AS strength FROM (
    SELECT title, strength FROM wp_s{k - 1}
    UNION ALL
    SELECT a.b AS title, least(s.strength, a.w) AS strength
    FROM wp_s{k - 1} s JOIN wp_adj a ON a.a = s.title
  ) GROUP BY title
)"""

    return f"""
, wp_sym AS MATERIALIZED (
  SELECT source AS a, target AS b, CAST(weight AS BIGINT) AS w FROM kg_edges
  UNION ALL
  SELECT target AS a, source AS b, CAST(weight AS BIGINT) AS w FROM kg_edges
),
wp_adj AS MATERIALIZED (SELECT a, b, max(w) AS w FROM wp_sym GROUP BY a, b),
wp_s0 AS MATERIALIZED (
  SELECT title, CAST({WIDEST_SEED_STRENGTH} AS BIGINT) AS strength
  FROM ({_TOP_DEGREE_SEED})
){_unroll(rounds, step)}
SELECT title, strength FROM wp_s{rounds}
"""


def _sssp_body(rounds: int = SSSP_ROUNDS) -> str:
    """Unrolled fixed-round Bellman-Ford from the top-degree seed —
    mirrors graphops.sssp_int bit-for-bit (int64 edge weights, additive
    costs, min-fold)."""

    def step(k: int) -> str:
        return f"""sp_d{k} AS MATERIALIZED (
  SELECT title, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT title, dist FROM sp_d{k - 1}
    UNION ALL
    SELECT a.b AS title, d.dist + a.w AS dist
    FROM sp_d{k - 1} d JOIN sp_adj a ON a.a = d.title
  ) GROUP BY title
)"""

    return f"""
, sp_sym AS MATERIALIZED (
  SELECT source AS a, target AS b, CAST(weight AS BIGINT) AS w FROM kg_edges
  UNION ALL
  SELECT target AS a, source AS b, CAST(weight AS BIGINT) AS w FROM kg_edges
),
sp_adj AS MATERIALIZED (SELECT a, b, min(w) AS w FROM sp_sym GROUP BY a, b),
sp_d0 AS MATERIALIZED (
  SELECT title, CAST(0 AS BIGINT) AS dist
  FROM ({_TOP_DEGREE_SEED})
){_unroll(rounds, step)}
SELECT title, dist FROM sp_d{rounds}
"""


_C4_BODY = """
, c4_sym AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT source AS a, target AS b FROM kg_edges
    UNION ALL
    SELECT target AS a, source AS b FROM kg_edges
  ) WHERE a <> b
),
c4_pairs AS (
  SELECT x.b AS u, y.b AS v, CAST(count(*) AS BIGINT) AS c
  FROM c4_sym x JOIN c4_sym y ON x.a = y.a AND x.b < y.b
  GROUP BY x.b, y.b HAVING count(*) >= 2
),
c4_node AS (
  SELECT title, CAST(sum(c * (c - 1) // 2) AS BIGINT) AS four_cycles FROM (
    SELECT u AS title, c FROM c4_pairs
    UNION ALL
    SELECT v AS title, c FROM c4_pairs
  ) GROUP BY title
)
SELECT d.title, CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(n.four_cycles, 0) AS BIGINT) AS four_cycles
FROM degrees d LEFT JOIN c4_node n ON n.title = d.title
"""


def _hits_body(rounds: int = HITS_ROUNDS) -> str:
    """Unrolled fixed-round integer HITS over the directed rel_records —
    mirrors graphops.hits_int bit-for-bit (each round rescales by
    x DIV greatest(1, max(x) DIV 1e6); `//` ≡ Spark's DIV on positives)."""
    from knowledge_graph_spark.operators.graphops import HITS_NORM_SCALE

    def step(k: int) -> str:
        return f"""hits_ar{k} AS MATERIALIZED (
  SELECT e.v AS title, CAST(sum(h.h) AS BIGINT) AS x
  FROM hits_e e JOIN hits_h{k - 1} h ON h.title = e.u GROUP BY e.v
),
hits_a{k} AS MATERIALIZED (
  SELECT title, CAST(x // greatest(1, (SELECT max(x) FROM hits_ar{k})
                                      // {HITS_NORM_SCALE}) AS BIGINT) AS a
  FROM hits_ar{k}
),
hits_hr{k} AS MATERIALIZED (
  SELECT e.u AS title, CAST(sum(a.a) AS BIGINT) AS x
  FROM hits_e e JOIN hits_a{k} a ON a.title = e.v GROUP BY e.u
),
hits_h{k} AS MATERIALIZED (
  SELECT title, CAST(x // greatest(1, (SELECT max(x) FROM hits_hr{k})
                                      // {HITS_NORM_SCALE}) AS BIGINT) AS h
  FROM hits_hr{k}
)"""

    return f"""
, hits_e AS MATERIALIZED (SELECT source AS u, target AS v FROM rel_records),
hits_nodes AS MATERIALIZED (
  SELECT DISTINCT title FROM (
    SELECT u AS title FROM hits_e UNION ALL SELECT v AS title FROM hits_e
  )
),
hits_h0 AS MATERIALIZED (SELECT title, CAST(1 AS BIGINT) AS h FROM hits_nodes){_unroll(rounds, step)}
SELECT n.title,
       CAST(coalesce(a.a, 0) AS BIGINT) AS authority,
       CAST(coalesce(h.h, 0) AS BIGINT) AS hub
FROM hits_nodes n
LEFT JOIN hits_a{rounds} a ON a.title = n.title
LEFT JOIN hits_h{rounds} h ON h.title = n.title
"""


_ROLE_PROFILE_BODY = """
, rp AS (
  SELECT role,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n,
         conv_id || ':' || CAST(turn_idx AS VARCHAR) AS did
  FROM transcripts
),
rr AS (
  SELECT role, n,
         row_number() OVER (PARTITION BY role ORDER BY n ASC, did ASC) AS rn,
         count(*) OVER (PARTITION BY role) AS cnt
  FROM rp
)
SELECT role, CAST(count(*) AS BIGINT) AS n_docs,
  max(CASE WHEN rn = ((cnt - 1) * 5) // 10 + 1 THEN n END) AS p50,
  max(CASE WHEN rn = ((cnt - 1) * 9) // 10 + 1 THEN n END) AS p90,
  max(n) AS max_tokens
FROM rr GROUP BY role
"""


# Per-conversation tool-call sequence: each tool call with the tool
# called before it ('^START' for the first).
_TT_SEQ_CTES = """tt_calls AS (
  SELECT conv_id, turn_idx, tool FROM transcripts
  WHERE role = 'tool' AND tool <> ''
),
tt_seq AS (
  SELECT conv_id, tool,
         coalesce(lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                  '^START') AS prev_tool
  FROM tt_calls
)"""


def _scc_oracle_body(inner: int, outer: int) -> str:
    """Unrolled FW-BW min-label SCC oracle over the tool-transition
    edges — mirrors graphops.scc_fixed_rounds round for round (same
    peeling, same '' sentinel for unresolved).  Each outer round runs an
    ``inner``-round forward and backward min-label sweep over the
    remaining edges, resolves the nodes whose two labels agree and peels
    them."""

    def sweep(r: int, tag: str, frm: str, to: str) -> str:
        return f"{tag}{r}_0 AS (SELECT node, node AS lab FROM rem{r})" + _unroll(
            inner,
            lambda i: f"""{tag}{r}_{i} AS MATERIALIZED (
  SELECT node, min(lab) AS lab FROM (
    SELECT node, lab FROM {tag}{r}_{i - 1}
    UNION ALL
    SELECT e.{to} AS node, l.lab
    FROM er{r} e JOIN {tag}{r}_{i - 1} l ON l.node = e.{frm}
  ) GROUP BY node)""",
        )

    def step(r: int) -> str:
        return f"""{sweep(r, 'f', 'a', 'b')},
{sweep(r, 'bk', 'b', 'a')},
res{r} AS MATERIALIZED (
  SELECT f.node, f.lab AS scc_id, CAST({r} AS INT) AS resolved_round
  FROM f{r}_{inner} f JOIN bk{r}_{inner} b ON f.node = b.node AND f.lab = b.lab),
rem{r + 1} AS MATERIALIZED (SELECT node FROM rem{r} ANTI JOIN res{r} USING (node)),
er{r + 1} AS MATERIALIZED (
  SELECT a, b FROM er{r}
  WHERE a IN (SELECT node FROM rem{r + 1})
    AND b IN (SELECT node FROM rem{r + 1}))"""

    union = "\nUNION ALL\n".join(
        f"SELECT node, scc_id, resolved_round FROM res{r}" for r in range(1, outer + 1)
    )
    return f""", {_TT_SEQ_CTES},
er1 AS MATERIALIZED (SELECT DISTINCT prev_tool AS a, tool AS b FROM tt_seq),
rem1 AS MATERIALIZED (SELECT a AS node FROM er1 UNION SELECT b FROM er1){_unroll(outer, step)}
{union}
UNION ALL
SELECT node, '' AS scc_id, CAST(0 AS INT) AS resolved_round FROM rem{outer + 1}
"""


_TOOL_TRANS_BODY = f"""
, {_TT_SEQ_CTES}
SELECT prev_tool, tool,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM tt_seq GROUP BY prev_tool, tool
"""

_TURN_LATENCY_BODY = """
, tl AS (
  SELECT conv_id, role, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS prev_us
  FROM transcripts
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_responses,
       CAST(sum(ts_us - prev_us) AS BIGINT) AS total_wait_us,
       CAST(max(ts_us - prev_us) AS BIGINT) AS max_wait_us
FROM tl WHERE role = 'assistant' AND prev_us IS NOT NULL
GROUP BY conv_id
"""


def _lpa_body() -> str:
    return f"""
, lpa_nodes AS MATERIALIZED (SELECT title AS node FROM kg_nodes),
lpa_sym AS MATERIALIZED (
  SELECT source AS a, target AS b, CAST(weight AS DOUBLE) AS w FROM kg_edges
  UNION ALL
  SELECT target AS a, source AS b, CAST(weight AS DOUBLE) AS w FROM kg_edges
),
{_lpa_rounds_sql('lpa_nodes', 'lpa_sym', 'lpa_')}
SELECT node AS title, label AS community FROM lpa_l{LPA_MAX_ITER}
"""


def _lpa_warm_ctes() -> str:
    """The two-phase warm-LPA CTE chain (no final SELECT): an
    old-subgraph 10-round unroll (edges whose pair fingerprint %
    WARM_EDGE_MOD survives) feeds a LPA_WARM_ROUNDS unroll over the full
    graph via ``init_cte`` — mirrors community.label_propagation
    (init_labels=...) round for round.  Shared by the lpa_warm and
    cluster_drift oracles."""
    poly_pair = _POLY.format(s="(source || '|' || target)")
    return f"""
, lw_nodes AS MATERIALIZED (SELECT title AS node FROM kg_nodes),
lw_old AS MATERIALIZED (
  SELECT source, target, CAST(weight AS DOUBLE) AS w FROM kg_edges
  WHERE ({poly_pair}) % {WARM_EDGE_MOD} <> 0
),
lw_old_sym AS MATERIALIZED (
  SELECT source AS a, target AS b, w FROM lw_old
  UNION ALL
  SELECT target AS a, source AS b, w FROM lw_old
),
{_lpa_rounds_sql('lw_nodes', 'lw_old_sym', 'lwo_')},
lw_sym AS MATERIALIZED (
  SELECT source AS a, target AS b, CAST(weight AS DOUBLE) AS w FROM kg_edges
  UNION ALL
  SELECT target AS a, source AS b, CAST(weight AS DOUBLE) AS w FROM kg_edges
),
{_lpa_rounds_sql('lw_nodes', 'lw_sym', 'lww_', rounds=LPA_WARM_ROUNDS,
                 init_cte=f'lwo_l{LPA_MAX_ITER}')}"""


def _lpa_warm_body() -> str:
    return f"""{_lpa_warm_ctes()}
SELECT node AS title, label AS community FROM lww_l{LPA_WARM_ROUNDS}
"""


def _pr_warm_body() -> str:
    """Warm-start PageRank oracle: a cold PR_ITER-round unroll over the
    'old' edge subset (pair fingerprint % WARM_EDGE_MOD survives, same
    filter as the cc_warm/lpa_warm gates) feeds a PR_WARM_ROUNDS unroll
    over the full graph via ``init_cte`` — mirrors
    graphops.pagerank_int(init_ranks=...) round for round, new nodes
    seeded at the full graph's cold scale//n."""
    poly_pair = _POLY.format(s="(source || '|' || target)")
    return f"""
, pw_old AS MATERIALIZED (
  SELECT source, target FROM kg_edges
  WHERE ({poly_pair}) % {WARM_EDGE_MOD} <> 0
)
{_pr_body(edges_cte='pw_old', prefix='pwo_', final_select=False)}
{_pr_body(rounds=PR_WARM_ROUNDS, prefix='pww_',
          init_cte=f'pwo_r{PR_ITER}', final_select=False)}
SELECT title, rank_scaled FROM pww_r{PR_WARM_ROUNDS}
"""


def _pag_sql(a_cte: str, b_cte: str) -> str:
    """Pair-counting agreement tail: contingency table over two
    (title, la)/(title, lb) CTEs → the 9-column exact-integer summary —
    mirrors graphops.partition_agreement's micro algebra (`//` ≡ Spark
    DIV on non-negatives).  Shared by partition_agreement and
    cluster_drift."""
    return f"""pag_cont AS (
  SELECT la, lb, CAST(count(*) AS BIGINT) AS c
  FROM {a_cte} JOIN {b_cte} USING (title) GROUP BY la, lb
),
pag_tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_nodes,
         CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pairs_both
  FROM pag_cont
),
pag_sa AS (SELECT CAST(sum(cc * (cc - 1) // 2) AS BIGINT) AS pairs_a
           FROM (SELECT CAST(sum(c) AS BIGINT) AS cc FROM pag_cont GROUP BY la)),
pag_sb AS (SELECT CAST(sum(cc * (cc - 1) // 2) AS BIGINT) AS pairs_b
           FROM (SELECT CAST(sum(c) AS BIGINT) AS cc FROM pag_cont GROUP BY lb)),
pag_base AS (
  SELECT n_nodes, CAST(n_nodes * (n_nodes - 1) // 2 AS BIGINT) AS pairs_total,
         pairs_both, pairs_a, pairs_b
  FROM pag_tot, pag_sa, pag_sb
)
SELECT n_nodes, pairs_total, pairs_both, pairs_a, pairs_b,
       CAST((pairs_both + pairs_total - pairs_a - pairs_b + pairs_both) * 1000000
            // greatest(1, pairs_total) AS BIGINT) AS rand_micro,
       CAST(pairs_both * 1000000 // greatest(1, pairs_a) AS BIGINT) AS precision_micro,
       CAST(pairs_both * 1000000 // greatest(1, pairs_b) AS BIGINT) AS recall_micro,
       CAST(2 * pairs_both * 1000000 // greatest(1, pairs_a + pairs_b) AS BIGINT) AS f1_micro
FROM pag_base
"""


def _partition_agreement_body() -> str:
    """partition_agreement oracle: the unrolled-LPA labels vs the
    recursive min-reachability components, folded to the pair-counting
    contingency sums."""
    return f"""
, lpa_nodes AS MATERIALIZED (SELECT title AS node FROM kg_nodes),
lpa_sym AS MATERIALIZED (
  SELECT source AS a, target AS b, CAST(weight AS DOUBLE) AS w FROM kg_edges
  UNION ALL
  SELECT target AS a, source AS b, CAST(weight AS DOUBLE) AS w FROM kg_edges
),
{_lpa_rounds_sql('lpa_nodes', 'lpa_sym', 'lpa_')},
pa_a AS (SELECT node AS title, label AS la FROM lpa_l{LPA_MAX_ITER}),
{_CC_REACH},
pa_b AS (SELECT node AS title, min(r) AS lb FROM reach GROUP BY node),
{_pag_sql('pa_a', 'pa_b')}"""


def _cluster_drift_body() -> str:
    """cluster_drift oracle: the warm-LPA chain's BOTH label tables
    (cold labels on the old subgraph, warm labels on the full graph)
    folded to the same pair-counting summary."""
    return f"""{_lpa_warm_ctes()},
pa_a AS (SELECT node AS title, label AS la FROM lwo_l{LPA_MAX_ITER}),
pa_b AS (SELECT node AS title, label AS lb FROM lww_l{LPA_WARM_ROUNDS}),
{_pag_sql('pa_a', 'pa_b')}"""


def _hierarchy_body(max_cluster_size: int = 5) -> str:
    """hierarchical_lpa(max_cluster_size, max_levels=2) → R10 containment.

    Level 0 = LPA on the full graph; every community larger than
    ``max_cluster_size`` is re-clustered on its induced subgraph (both
    endpoints in the SAME oversized community), labels qualified
    parent/'​/'​/label so sibling re-clusters never merge
    (community.hierarchical_lpa:235-288).  If nothing is oversized the
    member set is empty and level 1 contributes no rows — the same early
    exit the Spark loop takes.  Containment then follows
    reports.community_hierarchy:514-541 (member-join count == sub size).
    """
    return f"""
, h_nodes AS MATERIALIZED (SELECT title AS node FROM kg_nodes),
h_sym AS MATERIALIZED (
  SELECT source AS a, target AS b, CAST(weight AS DOUBLE) AS w FROM kg_edges
  UNION ALL
  SELECT target AS a, source AS b, CAST(weight AS DOUBLE) AS w FROM kg_edges
),
{_lpa_rounds_sql('h_nodes', 'h_sym', 'h0_')}
, lvl0 AS MATERIALIZED (
  SELECT node AS title, label AS community, 0 AS level FROM h0_l{LPA_MAX_ITER}
),
h_oversized AS (
  SELECT community FROM lvl0 GROUP BY community
  HAVING count(*) > {max_cluster_size}
),
h_member AS MATERIALIZED (
  SELECT l.title, l.community AS parent FROM lvl0 l
  JOIN h_oversized o ON l.community = o.community
),
h_sub_nodes AS (SELECT title AS node FROM h_member),
h_sub_sym AS MATERIALIZED (
  SELECT e.a, e.b, e.w FROM h_sym e
  JOIN h_member ma ON e.a = ma.title
  JOIN h_member mb ON e.b = mb.title AND ma.parent = mb.parent
),
{_lpa_rounds_sql('h_sub_nodes', 'h_sub_sym', 'h1_')}
, lvl1 AS (
  SELECT r.node AS title, m.parent || '/' || r.label AS community, 1 AS level
  FROM h1_l{LPA_MAX_ITER} r JOIN h_member m ON r.node = m.title
),
leveled AS MATERIALIZED (SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1),
hc_joined AS (
  SELECT a.community AS parent, a.level, b.community AS sub_community
  FROM leveled a JOIN leveled b ON a.title = b.title
  WHERE b.level = a.level + 1
),
hc_sub_sizes AS (
  SELECT community AS sub_community, count(*) AS sub_size
  FROM leveled GROUP BY community, level
),
hc_overlap AS (
  SELECT parent, level, sub_community, count(*) AS overlap
  FROM hc_joined GROUP BY parent, level, sub_community
)
SELECT o.parent AS community, o.level, o.sub_community,
       CAST(s.sub_size AS INT) AS sub_community_size
FROM hc_overlap o JOIN hc_sub_sizes s ON o.sub_community = s.sub_community
WHERE o.overlap = s.sub_size
"""


# ---------------------------------------------------------------------------
# Q7/Q8 search-context oracles.  Existing oracle bodies are EMBEDDED as
# nested-WITH subqueries (outer prelude CTEs stay in scope; inner names
# are scoped, so reuse is collision-free).
# ---------------------------------------------------------------------------


def _embed(body: str) -> str:
    return "(WITH RECURSIVE __e AS (SELECT 1)" + body + ")"


_WSC = (
    "len(list_filter(regexp_split_to_array({s}, '\\s+'), x -> x <> ''))"
)

_LS_BUDGET_COMMUNITY = 2000  # 8000 * 0.25
_LS_BUDGET_TEXT = 4000  # 8000 * 0.5


def _local_search_body() -> str:
    return f"""
, esel AS {_embed(_ENTITY_SEARCH_BODY)},
sel AS (SELECT title, rk AS entity_order FROM esel),
reps AS {_embed(_REPORTS_BODY)},
lcomm AS {_embed(_CC_BODY)},
lclaims AS {_embed(_CLAIMS_BODY)},
sel_comms AS (
  SELECT DISTINCT c.component AS community FROM lcomm c JOIN sel USING (title)
),
rep_rows AS (
  SELECT r.rank, r.community, r.full_content AS line,
         CAST({_WSC.format(s='r.full_content')} AS BIGINT) AS t
  FROM reps r JOIN sel_comms USING (community)
),
rep_packed AS (
  SELECT *, sum(t) OVER (ORDER BY rank DESC, community
                         ROWS UNBOUNDED PRECEDING) AS run
  FROM rep_rows QUALIFY run <= {_LS_BUDGET_COMMUNITY}
),
rep_block AS (
  SELECT '-----Reports-----' || chr(10)
           || coalesce(string_agg(line, chr(10) ORDER BY rank DESC, community), '')
           AS block,
         CAST(count(*) AS INT) AS n
  FROM rep_packed
),
ent_block AS (
  SELECT '-----Entities-----' || chr(10) || 'title,degree' || chr(10)
           || coalesce(string_agg(
                s.title || ',' || CAST(coalesce(d.degree, 0) AS VARCHAR),
                chr(10) ORDER BY s.entity_order), '') AS block,
         CAST(count(*) AS INT) AS n
  FROM sel s LEFT JOIN degrees d USING (title)
),
er2 AS (
  SELECT e.source, e.target, e.weight,
         CAST(coalesce(ds.degree, 0) + coalesce(dt.degree, 0) AS INT) AS rank
  FROM kg_edges e
  LEFT JOIN degrees ds ON e.source = ds.title
  LEFT JOIN degrees dt ON e.target = dt.title
),
flag2 AS (
  SELECT er2.*,
         CASE WHEN ss.title IS NULL THEN 0 ELSE 1 END AS s_in,
         CASE WHEN st.title IS NULL THEN 0 ELSE 1 END AS t_in
  FROM er2 LEFT JOIN sel ss ON er2.source = ss.title
           LEFT JOIN sel st ON er2.target = st.title
),
out2 AS (
  SELECT source, target, rank,
         CASE WHEN s_in = 0 THEN source ELSE target END AS external
  FROM flag2 WHERE s_in + t_in = 1
),
rel_all AS (
  SELECT 0 AS grp, 0 AS links, rank, source, target
  FROM flag2 WHERE s_in + t_in = 2
  UNION ALL
  SELECT 1 AS grp, CAST(l.links AS INT) AS links, o.rank, o.source, o.target
  FROM out2 o JOIN (SELECT external, count(*) AS links FROM out2 GROUP BY external) l
    USING (external)
),
rel_rows AS (
  SELECT row_number() OVER (ORDER BY grp, links DESC, rank DESC, source, target)
           AS rel_rk,
         source || ',' || target || ',' || CAST(rank AS VARCHAR) AS line
  FROM rel_all QUALIFY rel_rk <= 10
),
rel_block AS (
  SELECT '-----Relationships-----' || chr(10) || 'source,target,rank' || chr(10)
           || coalesce(string_agg(line, chr(10) ORDER BY rel_rk), '') AS block,
         CAST(count(*) AS INT) AS n
  FROM rel_rows
),
cl_block AS (
  SELECT '-----Claims-----' || chr(10) || 'subject,type,object' || chr(10)
           || coalesce(string_agg(
                c.subject_id || ',' || c.claim_type || ',' || c.object_id,
                chr(10) ORDER BY c.subject_id), '') AS block,
         CAST(count(*) AS INT) AS n
  FROM lclaims c JOIN sel s ON c.subject_id = s.title
),
tue2 AS (
  SELECT title, unnest(string_split(source_ids, ',')) AS text_unit_id FROM kg_nodes
),
unit_sel AS (
  SELECT u.text_unit_id, min(s.entity_order) AS entity_order,
         count(*) AS n_rel
  FROM tue2 u JOIN sel s USING (title)
  GROUP BY u.text_unit_id
),
unit_rows AS (
  SELECT us.entity_order, us.n_rel, us.text_unit_id, t.chunk AS line,
         CAST({_WSC.format(s='t.chunk')} AS BIGINT) AS t
  FROM unit_sel us JOIN text_units t ON t.id = us.text_unit_id
),
unit_packed AS (
  SELECT *, sum(t) OVER (ORDER BY entity_order, n_rel DESC, text_unit_id
                         ROWS UNBOUNDED PRECEDING) AS run
  FROM unit_rows QUALIFY run <= {_LS_BUDGET_TEXT}
),
src_block AS (
  SELECT '-----Sources-----' || chr(10)
           || coalesce(string_agg(line, chr(10)
                ORDER BY entity_order, n_rel DESC, text_unit_id), '') AS block,
         CAST(count(*) AS INT) AS n
  FROM unit_packed
),
ctx AS (
  SELECT r.block || chr(10) || chr(10) || e.block || chr(10) || chr(10)
           || x.block || chr(10) || chr(10) || c.block || chr(10) || chr(10)
           || s.block AS context_string,
         r.n AS n_reports, e.n AS n_entities, x.n AS n_relationships,
         c.n AS n_claims, s.n AS n_sources
  FROM rep_block r, ent_block e, rel_block x, cl_block c, src_block s
)
SELECT '{LOCAL_QUERY}' AS query, n_reports, n_entities, n_relationships,
       n_claims, n_sources, context_string,
       CAST({_WSC.format(s='context_string')} AS INT) AS context_tokens
FROM ctx
"""


def _node2vec_body() -> str:
    poly_seed = _POLY.format(s="(n.title || '#' || CAST(w.wid AS VARCHAR))")
    poly_ctx = _POLY.format(s="ctx")
    return f"""
, gsym AS (
  SELECT source AS node, target AS neighbor FROM kg_edges
  UNION SELECT target AS node, source AS neighbor FROM kg_edges
),
gadj AS (
  SELECT node, neighbor,
         row_number() OVER (PARTITION BY node ORDER BY neighbor) - 1 AS neighbor_idx,
         count(*) OVER (PARTITION BY node) AS degree
  FROM gsym
),
gstarts AS (
  SELECT n.title, CAST(w.wid AS INT) AS walk_id, {poly_seed} AS seed
  FROM kg_nodes n, LATERAL unnest(range(0, {N2V_NUM_WALKS})) AS w(wid)
),
gwalk(title, walk_id, seed, step, node) AS (
  SELECT title, walk_id, seed, 0 AS step, title AS node FROM gstarts
  UNION ALL
  SELECT g.title, g.walk_id, g.seed, g.step + 1, a.neighbor
  FROM gwalk g JOIN gadj a ON a.node = g.node
   AND a.neighbor_idx = {_perm("g.seed", "g.step + 1")} % a.degree
  WHERE g.step < {N2V_WALK_LENGTH - 1}
),
gcooc AS (
  SELECT a.node AS node, b.node AS ctx, count(*) AS cnt
  FROM gwalk a JOIN gwalk b
    ON a.title = b.title AND a.walk_id = b.walk_id
   AND abs(a.step - b.step) <= {N2V_WINDOW}
   AND a.step <> b.step AND a.node <> b.node
  GROUP BY a.node, b.node
),
gcells AS (
  SELECT node, CAST({poly_ctx} % {N2V_DIM} AS INT) AS dim_idx,
         CAST(sum(cnt) AS DOUBLE) AS v
  FROM gcooc GROUP BY node, CAST({poly_ctx} % {N2V_DIM} AS INT)
),
gnorm AS (SELECT node, sqrt(sum(v * v)) AS nrm FROM gcells GROUP BY node),
gdims AS (
  SELECT d.node, CAST(r.dj AS INT) AS dim_idx
  FROM (SELECT DISTINCT node FROM gcooc) d,
       LATERAL unnest(range(0, {N2V_DIM})) AS r(dj)
)
SELECT d.node AS title, d.dim_idx,
       CAST(floor(coalesce(c.v, 0.0) / n.nrm * 1000000) AS BIGINT) AS value_micro
FROM gdims d
LEFT JOIN gcells c ON c.node = d.node AND c.dim_idx = d.dim_idx
JOIN gnorm n ON n.node = d.node
"""


def _global_search_body() -> str:
    terms = sorted({w.upper() for w in GLOBAL_QUERY.split()})
    score = " + ".join(
        f"(CASE WHEN contains(upper(r.full_content), '{t}') THEN 1 ELSE 0 END)"
        for t in terms
    )
    return f"""
, reps AS {_embed(_REPORTS_BODY)},
scored AS (
  SELECT r.community, r.rank, r.summary,
         CAST({score} AS INT) AS score,
         CAST({_WSC.format(s='r.summary')} AS BIGINT) AS t
  FROM reps r
  WHERE ({score}) >= 1
),
packed AS (
  SELECT *, sum(t) OVER (ORDER BY score DESC, rank DESC, community
                         ROWS UNBOUNDED PRECEDING) AS run
  FROM scored
)
SELECT '{GLOBAL_QUERY}' AS query, community, score, rank, summary,
       run <= 8000 AS in_context
FROM packed
"""


_TEXT_UNIT_LINKS_BODY = f"""
, tue AS (
  SELECT title, unnest(string_split(source_ids, ',')) AS text_unit_id FROM kg_nodes
),
teids AS (
  SELECT text_unit_id,
         string_agg(DISTINCT sha256(title), ',' ORDER BY sha256(title)) AS entity_ids
  FROM tue GROUP BY text_unit_id
),
tre AS (
  SELECT sha256(source || '->' || target) AS rid,
         unnest(string_split(text_unit_ids, ',')) AS text_unit_id
  FROM kg_edges
),
trids AS (
  SELECT text_unit_id,
         string_agg(DISTINCT rid, ',' ORDER BY rid) AS relationship_ids
  FROM tre GROUP BY text_unit_id
),
csubj AS (
  SELECT DISTINCT coalesce(sa.canonical_name,
                           regexp_extract(text, '{claims_ops.CLAIM_SUBJECT_RE}', 1))
         AS subject_id
  FROM transcripts LEFT JOIN alias_dict sa
    ON upper(regexp_extract(text, '{claims_ops.CLAIM_SUBJECT_RE}', 1)) = upper(sa.alias)
  WHERE regexp_extract(text, '{claims_ops.CLAIM_SUBJECT_RE}', 1) <> ''
),
tcov AS (
  SELECT u.text_unit_id,
         string_agg(DISTINCT sha256(c.subject_id), ',' ORDER BY sha256(c.subject_id))
           AS covariate_ids
  FROM tue u JOIN csubj c ON u.title = c.subject_id
  GROUP BY u.text_unit_id
)
SELECT t.id AS text_unit_id, t.doc_id, t.conv_id, t.n_tokens,
       coalesce(e.entity_ids, '') AS entity_ids,
       coalesce(r.relationship_ids, '') AS relationship_ids,
       coalesce(c.covariate_ids, '') AS covariate_ids
FROM text_units t
LEFT JOIN teids e ON t.id = e.text_unit_id
LEFT JOIN trids r ON t.id = r.text_unit_id
LEFT JOIN tcov c ON t.id = c.text_unit_id
"""

_SUMMARIZED_EDGES_BODY = """
, ed AS (
  SELECT source, target, description,
         list_filter(string_split(description, chr(10)), d -> d <> '') AS descs
  FROM kg_edges
),
epacked AS (
  SELECT source, target, description, descs,
    greatest(len(list_filter(range(1, len(descs) + 1),
      i -> len(list_filter(regexp_split_to_array(
              trim(array_to_string(descs[1 : CAST(i AS INT)], ' ')), '\\s+'),
            x -> x <> '')) <= 4000)), 1) AS cut
  FROM ed
)
SELECT source, target, description,
  CASE WHEN len(descs) = 0 THEN ''
       WHEN len(descs) = 1 THEN descs[1]
       ELSE source || '->' || target || ': ' ||
            array_to_string(descs[1 : CAST(cut AS INT)], '; ')
  END AS summary
FROM epacked
"""

_REPORTS_BODY = "\n, " + _CC_REACH + """,
comm AS (SELECT node AS title, min(r) AS community FROM reach GROUP BY node),
nctx AS (
  SELECT n.title, n.type,
         CASE WHEN n.description <> '' THEN n.description
              ELSE 'No Description' END AS description,
         coalesce(d.degree, 0) AS degree, c.community
  FROM kg_nodes n LEFT JOIN degrees d USING (title) LEFT JOIN comm c USING (title)
),
er AS (
  SELECT e.source, e.target, e.weight,
         coalesce(ds.degree, 0) + coalesce(dt.degree, 0) AS rank
  FROM kg_edges e
  LEFT JOIN degrees ds ON e.source = ds.title
  LEFT JOIN degrees dt ON e.target = dt.title
),
ectx AS (
  SELECT er.*, cs.community
  FROM er JOIN comm cs ON er.source = cs.title
          JOIN comm ct ON er.target = ct.title
  WHERE cs.community = ct.community
),
topn AS (
  SELECT *, row_number() OVER (PARTITION BY community
                               ORDER BY degree DESC, title) AS rk
  FROM nctx QUALIFY rk <= 10
),
entb AS (
  SELECT community,
         string_agg(title || ',' || type || ',' || CAST(degree AS VARCHAR),
                    chr(10) ORDER BY rk) AS entity_rows
  FROM topn GROUP BY community
),
tope AS (
  SELECT *, row_number() OVER (PARTITION BY community
                               ORDER BY rank DESC, source, target) AS rk
  FROM ectx QUALIFY rk <= 10
),
edgb AS (
  SELECT community,
         string_agg(source || ',' || target || ',' || CAST(rank AS VARCHAR),
                    chr(10) ORDER BY rk) AS edge_rows
  FROM tope GROUP BY community
),
csizes AS (SELECT community, CAST(count(*) AS INT) AS n_entities FROM nctx GROUP BY community),
cmass AS (
  SELECT community, CAST(sum(weight) AS DOUBLE) AS weight_mass,
         CAST(count(*) AS INT) AS n_edges
  FROM ectx GROUP BY community
),
tops AS (
  SELECT community, title AS top_entity, degree AS top_entity_degree
  FROM topn WHERE rk = 1
),
topse AS (
  SELECT community, source AS top_edge_source, target AS top_edge_target,
         rank AS top_edge_rank
  FROM tope WHERE rk = 1
),
cctx AS (
  SELECT s.community, s.n_entities,
         coalesce(m.n_edges, 0) AS n_edges,
         coalesce(m.weight_mass, 0.0) AS weight_mass,
         t.top_entity, coalesce(t.top_entity_degree, 0) AS top_entity_degree,
         x.top_edge_source, x.top_edge_target, x.top_edge_rank,
         '-----Entities-----' || chr(10) || 'title,type,degree' || chr(10)
           || coalesce(e.entity_rows, '') || chr(10)
           || '-----Relationships-----' || chr(10) || 'source,target,rank'
           || chr(10) || coalesce(g.edge_rows, '') AS context_string
  FROM csizes s
  LEFT JOIN entb e USING (community)
  LEFT JOIN edgb g USING (community)
  LEFT JOIN cmass m USING (community)
  LEFT JOIN tops t USING (community)
  LEFT JOIN topse x USING (community)
),
-- report pieces (esc = JSON string-literal escaping, mirroring the
-- Spark renderer byte-for-byte)
rrend AS (
  SELECT *,
    'Community ' || community AS title,
    'Community of ' || CAST(n_entities AS VARCHAR) || ' entities with '
      || CAST(n_edges AS VARCHAR) || ' internal relationships (weight '
      || CAST(weight_mass AS VARCHAR) || ')' AS summary,
    'Rank ' || CAST(weight_mass AS VARCHAR)
      || ' = sum of internal relationship weights' AS rank_explanation,
    CASE WHEN top_entity IS NULL THEN NULL ELSE
      '{"summary": "' ||
      replace(replace(replace('Dominant entity: ' || top_entity,
              '\', '\\'), '"', '\"'), chr(10), '\n')
      || '", "explanation": "' ||
      replace(replace(replace(top_entity || ' has the highest degree ('
              || CAST(top_entity_degree AS VARCHAR) || ') among '
              || CAST(n_entities AS VARCHAR) || ' community members',
              '\', '\\'), '"', '\"'), chr(10), '\n')
      || '"}' END AS f1,
    CASE WHEN top_edge_source IS NULL THEN NULL ELSE
      '{"summary": "' ||
      replace(replace(replace('Strongest relationship: ' || top_edge_source
              || ' -> ' || top_edge_target,
              '\', '\\'), '"', '\"'), chr(10), '\n')
      || '", "explanation": "' ||
      replace(replace(replace('Combined endpoint degree '
              || CAST(top_edge_rank AS VARCHAR) || ' tops the community''s '
              || CAST(n_edges AS VARCHAR) || ' internal relationships',
              '\', '\\'), '"', '\"'), chr(10), '\n')
      || '"}' END AS f2
  FROM cctx
)
SELECT sha256(community) AS id, community, title, summary,
       '# Community ' || community || chr(10) || chr(10) || context_string AS full_content,
       '{"title": "' ||
         replace(replace(replace(title, '\', '\\'), '"', '\"'), chr(10), '\n')
       || '", "summary": "' ||
         replace(replace(replace(summary, '\', '\\'), '"', '\"'), chr(10), '\n')
       || '", "rating": ' || CAST(weight_mass AS VARCHAR)
       || ', "rating_explanation": "' ||
         replace(replace(replace(rank_explanation, '\', '\\'), '"', '\"'), chr(10), '\n')
       || '", "findings": [' || coalesce(concat_ws(', ', f1, f2), '') || ']}'
         AS full_content_json,
       weight_mass AS rank, rank_explanation, 0 AS level,
       CAST(row_number() OVER (ORDER BY weight_mass DESC, community) - 1 AS BIGINT)
         AS human_readable_id
FROM rrend
"""


# --- wave 10: topic segmentation, negative sampling, JP coloring ------------

TSEG_NUM, TSEG_DEN = 1, 4
NEGS_K = 3
JP_ROUNDS = 4


def q_topic_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical topic segmentation (TextTiling boundary rule at turn
    granularity) over the raw transcripts — the finer-than-conversation
    context unit for retrieval/summarization."""
    from knowledge_graph_spark.operators.assemble import topic_segments

    return topic_segments(
        transcripts_from_events(spark, sf_dir), jac_num=TSEG_NUM, jac_den=TSEG_DEN
    )


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic filtered negative sampling over the merged KG
    (TransE-style corruption, hash-derived — resumable, no RNG state)."""
    from knowledge_graph_spark.operators.graphops import negative_samples

    s = _stages(spark, sf_dir)
    return negative_samples(s["nodes"].select("title"), s["edges"], k=NEGS_K)


LP_K = 5


def q_lp_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered link-prediction ranking protocol (Bordes et al.): every
    true KG edge ranked against its clean hash-derived corruptions by
    integer Adamic-Adar score — the KG-completion eval harness."""
    from knowledge_graph_spark.operators.graphops import lp_ranking_audit

    s = _stages(spark, sf_dir)
    return lp_ranking_audit(s["nodes"].select("title"), s["edges"], k=LP_K)


def q_jp_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones-Plassmann greedy coloring of the KG — the conflict-free
    batch schedule for per-node mutations (fixed-round unrolled oracle,
    leftovers flagged -1/round 0)."""
    from knowledge_graph_spark.operators.graphops import jp_coloring

    s = _stages(spark, sf_dir)
    return jp_coloring(s["nodes"].select("title"), s["edges"], rounds=JP_ROUNDS)


_TSEG_BODY = f"""
, tsg_t AS (
  SELECT conv_id, turn_idx,
         list_distinct(list_filter(regexp_split_to_array(lower(trim(text)),
                                                         '\\s+'),
                                   x -> x <> '')) AS tk
  FROM transcripts),
tsg_l AS (
  SELECT conv_id, turn_idx, tk,
         lag(tk) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pk
  FROM tsg_t),
tsg_b AS (
  SELECT conv_id, turn_idx,
         CASE WHEN pk IS NULL THEN TRUE
              ELSE len(list_intersect(tk, pk)) * {TSEG_DEN}
                   < (len(tk) + len(pk) - len(list_intersect(tk, pk))) * {TSEG_NUM}
         END AS is_boundary
  FROM tsg_l)
SELECT conv_id, turn_idx, is_boundary,
       CAST(sum(CASE WHEN is_boundary THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY turn_idx
                  ROWS UNBOUNDED PRECEDING) AS INT) AS seg_id
FROM tsg_b
"""


def _negs_body(as_cte: str | None = None, k: int = NEGS_K) -> str:
    """Deterministic filtered negative sampling over kg_edges — mirrors
    graphops.negative_samples.  ``as_cte`` wraps the final SELECT so the
    link-prediction ranking oracle can compose it (with its own ``k``)."""
    sel = f"""
, ng_idx AS MATERIALIZED (
  SELECT title AS nt, row_number() OVER (ORDER BY title) - 1 AS nid
  FROM kg_nodes),
ng_nv AS (SELECT count(*) AS n_nodes FROM ng_idx),
ng_e AS MATERIALIZED (SELECT DISTINCT source, target FROM kg_edges),
ng_x AS (
  SELECT source, target,
         {_POLY.format(s="(source || '|' || target)")} AS x
  FROM ng_e),
ng_c AS (
  SELECT source, target, CAST(u.j AS INT) AS sample_idx,
         ({_perm('x', 'u.j')}) % n_nodes AS cand_nid
  FROM ng_x, ng_nv, LATERAL unnest(range(0, {k})) AS u(j)),
ng_out AS MATERIALIZED (
  SELECT n.source, n.target, n.sample_idx, i.nt AS neg_target,
         (i.nt <> n.source AND i.nt <> n.target
          AND NOT EXISTS (SELECT 1 FROM ng_e t
                          WHERE t.source = least(n.source, i.nt)
                            AND t.target = greatest(n.source, i.nt))) AS is_clean
  FROM ng_c n JOIN ng_idx i ON n.cand_nid = i.nid)"""
    if as_cte:
        return sel.replace("ng_out AS MATERIALIZED", f"{as_cte} AS MATERIALIZED")
    return sel + "\nSELECT source, target, sample_idx, neg_target, is_clean FROM ng_out\n"


_NEGS_BODY = _negs_body()


def _lp_body(as_cte: str | None = None) -> str:
    """Filtered ranking protocol over kg_edges — mirrors graphops.
    lp_ranking_audit: Adamic-Adar integer scores for the true target vs
    its clean ``negative_samples`` corruptions; rank ties break candidate
    ASC.  Composes _negs_body's CTE chain (ng_e / ng_out reused)."""
    body = (
        _negs_body(as_cte="ng_out", k=LP_K)
        + f""",
lp_adj AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT source AS a, target AS b FROM ng_e WHERE source <> target
    UNION ALL
    SELECT target AS a, source AS b FROM ng_e WHERE source <> target)),
lp_w AS (
  SELECT a AS z,
         1000000 // greatest(length(bin(CAST(count(*) AS BIGINT))) - 1, 1)
           AS w_micro
  FROM lp_adj GROUP BY a),
lp_cand AS MATERIALIZED (
  SELECT source, target, target AS cand, TRUE AS is_pos FROM ng_e
  UNION ALL
  SELECT source, target, neg_target AS cand, FALSE AS is_pos
  FROM ng_out WHERE is_clean),
lp_pairsc AS MATERIALIZED (
  SELECT c.source, c.cand, sum(w.w_micro) AS aa
  FROM (SELECT DISTINCT source, cand FROM lp_cand WHERE source <> cand) c
  JOIN lp_adj e1 ON e1.a = c.source
  JOIN lp_adj e2 ON e2.a = c.cand AND e2.b = e1.b
  JOIN lp_w w ON w.z = e1.b
  GROUP BY c.source, c.cand),
lp_scored AS MATERIALIZED (
  SELECT c.source, c.target, c.cand, c.is_pos,
         coalesce(p.aa, 0) AS aa
  FROM lp_cand c
  LEFT JOIN lp_pairsc p ON p.source = c.source AND p.cand = c.cand),
lp_rank AS MATERIALIZED (
  SELECT p.source, p.target,
         CAST(1 + count(CASE WHEN n.aa > p.aa
                               OR (n.aa = p.aa AND n.cand < p.target)
                             THEN 1 END) AS INT) AS rank,
         CAST(1 + count(n.cand) AS INT) AS n_cand
  FROM (SELECT source, target, aa FROM lp_scored WHERE is_pos) p
  LEFT JOIN (SELECT source, target, cand, aa FROM lp_scored
             WHERE NOT is_pos) n
    ON n.source = p.source AND n.target = p.target
  GROUP BY p.source, p.target)"""
    )
    if as_cte:
        return body.replace("lp_rank AS MATERIALIZED", f"{as_cte} AS MATERIALIZED")
    return body + "\nSELECT source, target, rank, n_cand FROM lp_rank\n"


def _jp_body(rounds: int = JP_ROUNDS) -> str:
    """Unrolled Jones-Plassmann coloring oracle over the merged KG —
    mirrors graphops.jp_coloring round-for-round: round-salted affine
    priority over the rolling fingerprint (title tiebreak), strict
    local-maximum winners, set-wise mex over already-colored neighbours.
    Static symmetric edge table + explicit active-set filters stand in
    for the kernel's edge peeling (equivalent: winner and used joins
    constrain the peeled side to active/winner nodes anyway)."""
    poly = _POLY.format(s="node")

    def step(r: int) -> str:
        a_r = (HASH_A * (r + 1)) % HASH_M31
        b_r = (HASH_B * (r + 1) + HASH_C) % HASH_M31
        sql = f"""jp_k{r} AS MATERIALIZED (
  SELECT node, (({a_r} * ({poly}) + {b_r}) % {HASH_M31}) AS key
  FROM jp_act{r}),
jp_n{r} AS MATERIALIZED (
  SELECT e.a AS node, max({{'k': k.key, 'n': k.node}}) AS nm
  FROM jp_e e JOIN jp_k{r} k ON k.node = e.b GROUP BY e.a),
jp_w{r} AS MATERIALIZED (
  SELECT k.node FROM jp_k{r} k LEFT JOIN jp_n{r} n ON k.node = n.node
  WHERE n.nm IS NULL OR k.key > n.nm.k
     OR (k.key = n.nm.k AND k.node > n.nm.n)),
"""
        if r == 1:
            sql += (
                "jp_c1 AS MATERIALIZED (SELECT node, CAST(0 AS INT) AS color, "
                "CAST(1 AS INT) AS round FROM jp_w1),\n"
                "jp_all1 AS MATERIALIZED (SELECT node, color FROM jp_c1)"
            )
        else:
            sql += f"""jp_u{r} AS MATERIALIZED (
  SELECT DISTINCT e.a AS node, c.color AS ucolor
  FROM jp_e e JOIN jp_w{r} w ON e.a = w.node
  JOIN jp_all{r - 1} c ON e.b = c.node),
jp_m{r} AS (SELECT node, count(*) AS m FROM jp_u{r} GROUP BY node),
jp_cand{r} AS (
  SELECT w.node, CAST(u.c AS INT) AS c
  FROM jp_w{r} w LEFT JOIN jp_m{r} m ON w.node = m.node,
  LATERAL unnest(range(0, coalesce(m.m, 0) + 1)) AS u(c)),
jp_c{r} AS MATERIALIZED (
  SELECT cd.node, CAST(min(cd.c) AS INT) AS color, CAST({r} AS INT) AS round
  FROM jp_cand{r} cd
  LEFT JOIN jp_u{r} u ON cd.node = u.node AND cd.c = u.ucolor
  WHERE u.ucolor IS NULL GROUP BY cd.node),
jp_all{r} AS MATERIALIZED (
  SELECT node, color FROM jp_all{r - 1}
  UNION ALL SELECT node, color FROM jp_c{r})"""
        return sql + f""",
jp_act{r + 1} AS MATERIALIZED (
  SELECT node FROM jp_act{r}
  WHERE node NOT IN (SELECT node FROM jp_c{r}))"""

    union = "\nUNION ALL\n".join(
        f"SELECT node, color, round FROM jp_c{r}" for r in range(1, rounds + 1)
    )
    return f""", jp_e AS MATERIALIZED (
  SELECT source AS a, target AS b FROM kg_edges WHERE source <> target
  UNION
  SELECT target AS a, source AS b FROM kg_edges WHERE source <> target),
jp_act1 AS MATERIALIZED (SELECT title AS node FROM kg_nodes){_unroll(rounds, step)}
SELECT node AS title, color, round FROM (
{union}
UNION ALL
SELECT node, CAST(-1 AS INT) AS color, CAST(0 AS INT) AS round
FROM jp_act{rounds + 1})
"""


# ---------------------------------------------------------------------------
# Wave 14: weighted SSSP, 4-cycle census, Matryoshka prefix-dim ANN.
# ---------------------------------------------------------------------------

def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths from the top-degree entity — additive
    evidence-traversal cost, the third member of the reachability family
    next to bfs_hops (unweighted) and widest_paths (max-min); unrolled
    Bellman-Ford oracle, int64 distances exact cross-engine."""
    from knowledge_graph_spark.operators.graphops import sssp_int

    s = _stages(spark, sf_dir)
    seed = (
        s["degrees"].orderBy(F.desc("degree"), F.asc("title")).limit(1).select("title")
    )
    return sssp_int(
        s["edges"].select("source", "target", "weight"), seed, rounds=SSSP_ROUNDS
    )


def q_four_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity 4-cycle census over the KG — the bipartite-redundancy
    motif triangles miss (two entities sharing two distinct
    intermediaries); diagonal-pair counting, exact integers."""
    from knowledge_graph_spark.operators.graphops import four_cycle_profile

    return four_cycle_profile(_stages(spark, sf_dir)["edges"])


def q_emb_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix-dimension ANN: cosine top-k computed on
    only the first PREFIX_DIM dims — the memory/bandwidth trade of
    truncation-trained embeddings (Kusupati et al. 2022)."""
    embs = _embs(spark, sf_dir).withColumn(
        "embedding", F.slice(F.col("embedding").cast("array<double>"), 1, PREFIX_DIM)
    )
    queries_df = embs.filter(F.col("vec_id") < TOPK_QUERY_LIMIT)
    return similarity.cosine_topk(embs, queries_df, k=TOPK_K).select(
        "query_id", "neighbor_id", "sim_micro", "rk"
    )


# ---------------------------------------------------------------------------
# Wave 15: double-sweep diameter bound, 1-WL color refinement.
# ---------------------------------------------------------------------------

DS_HOPS = 4
WL_ROUNDS = 3


def q_diameter_lb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep BFS diameter lower bound (Magnien et al. 2009) in
    exact arithmetic; two bounded-round BFS sweeps, argmax restart."""
    from knowledge_graph_spark.operators.graphops import double_sweep_diameter

    return double_sweep_diameter(_stages(spark, sf_dir)["edges"], hops=DS_HOPS)


def q_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL color refinement over the typed KG — structural-role
    signatures (same color ⇔ same k-hop typed unfolding), the blocking
    key for role-based canonicalization and the GNN-expressiveness
    baseline; shared polynomial hash, unrolled oracle."""
    from knowledge_graph_spark.operators.graphops import wl_refinement

    s = _stages(spark, sf_dir)
    return wl_refinement(
        s["nodes"].select("title", "type"), s["edges"], rounds=WL_ROUNDS
    )


def _ds_body(hops: int = DS_HOPS) -> str:
    """Double-sweep oracle: two unrolled BFS expansions with an argmax
    restart between them (namespaced ds_ so _bfs_body can coexist)."""
    return f"""
, ds_adj AS MATERIALIZED (
  SELECT source AS a, target AS b FROM kg_edges
  UNION SELECT target AS a, source AS b FROM kg_edges),
ds_seed1 AS MATERIALIZED ({_TOP_DEGREE_SEED}),
ds_a0 AS MATERIALIZED (SELECT title, 0 AS hop FROM ds_seed1){_min_hop_rounds(hops, 'ds_a', 'ds_adj')},
ds_seed2 AS MATERIALIZED (
  SELECT title FROM ds_a{hops} ORDER BY hop DESC, title ASC LIMIT 1),
ds_b0 AS MATERIALIZED (SELECT title, 0 AS hop FROM ds_seed2){_min_hop_rounds(hops, 'ds_b', 'ds_adj')}
SELECT (SELECT title FROM ds_seed1) AS seed_a,
       (SELECT title FROM ds_seed2) AS seed_b,
       (SELECT CAST(max(hop) AS INT) FROM ds_a{hops}) AS ecc_a_lb,
       CAST(max(hop) AS INT) AS diameter_lb,
       CAST(count(*) AS BIGINT) AS n_reached
FROM ds_b{hops}"""


def _wl_body(rounds: int = WL_ROUNDS) -> str:
    """Unrolled 1-WL refinement: per round, numeric-sorted neighbour-color
    string_agg + the shared polynomial hash of 'color|c1,c2,...'."""
    sig = _POLY.format(s="(CAST(c AS VARCHAR) || '|' || coalesce(sig, ''))")

    def step(r: int) -> str:
        return f"""wl_n{r} AS (
  SELECT x.title, x.c, n.sig FROM wl_c{r - 1} x LEFT JOIN (
    SELECT wl_adj.a AS title,
           string_agg(CAST(y.c AS VARCHAR), ',' ORDER BY y.c) AS sig
    FROM wl_adj JOIN wl_c{r - 1} y ON y.title = wl_adj.b
    GROUP BY wl_adj.a) n USING (title)),
wl_c{r} AS MATERIALIZED (SELECT title, {sig} AS c FROM wl_n{r})"""

    return f"""
, wl_adj AS MATERIALIZED (
  SELECT source AS a, target AS b FROM kg_edges WHERE source <> target
  UNION SELECT target AS a, source AS b FROM kg_edges WHERE source <> target),
wl_c0 AS MATERIALIZED (SELECT title, {_POLY.format(s="type")} AS c FROM kg_nodes){_unroll(rounds, step)}
SELECT title, CAST(c AS BIGINT) AS wl_color,
       CAST(count(*) OVER (PARTITION BY c) AS BIGINT) AS class_size
FROM wl_c{rounds}"""


# ---------------------------------------------------------------------------
# Wave 16: TextRank turn salience, per-source rollup.
# ---------------------------------------------------------------------------

TEXTRANK_ROUNDS = 5


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation TextRank over turns (Mihalcea & Tarau 2004):
    integer PageRank on the within-conversation shared-token similarity
    graph — the centrality-based extractive summarizer next to
    conversation_context's recency budget.  Unrolled-CTE oracle, same
    strategy as the pagerank/LPA gates but with per-conversation teleport
    normalization (graphops.grouped_pagerank)."""
    from knowledge_graph_spark.operators.assemble import textrank_turns

    return textrank_turns(
        transcripts_from_events(spark, sf_dir), iterations=TEXTRANK_ROUNDS
    )


def _textrank_body(rounds: int = TEXTRANK_ROUNDS) -> str:
    """Unrolled per-conversation integer PageRank over the turn-similarity
    graph — mirrors assemble.textrank_turns / graphops.grouped_pagerank
    bit-for-bit (`//` ≡ Spark DIV on positives)."""
    from knowledge_graph_spark.operators.graphops import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
    )

    def step(k: int) -> str:
        return f"""txr_c{k} AS MATERIALIZED (
  SELECT a.conv_id, a.v AS node,
         CAST(sum((r.rank_scaled * {PR_DAMP_NUM} * a.w)
                  // ({PR_DAMP_DEN} * a.outw)) AS BIGINT) AS inflow
  FROM txr_adj a
  JOIN txr_r{k - 1} r ON r.conv_id = a.conv_id AND r.node = a.u
  GROUP BY a.conv_id, a.v),
txr_r{k} AS MATERIALIZED (
  SELECT n.conv_id, n.node,
         CAST(({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM})
                // ({PR_DAMP_DEN} * n.n_g)
              + coalesce(c.inflow, 0) AS BIGINT) AS rank_scaled
  FROM txr_nodes n
  LEFT JOIN txr_c{k} c ON n.conv_id = c.conv_id AND n.node = c.node)"""

    return f"""
, txr_tok AS MATERIALIZED (
  SELECT conv_id, turn_idx AS i,
         unnest(list_distinct(list_filter(regexp_split_to_array(lower(trim(text)),
                                                                '\\s+'),
                                          x -> x <> ''))) AS tok
  FROM transcripts),
txr_pair AS MATERIALIZED (
  SELECT a.conv_id, a.i AS u, b.i AS v, CAST(count(*) AS BIGINT) AS w
  FROM txr_tok a
  JOIN txr_tok b ON a.conv_id = b.conv_id AND a.tok = b.tok AND a.i < b.i
  GROUP BY a.conv_id, a.i, b.i),
txr_sym AS MATERIALIZED (
  SELECT conv_id, u, v, w FROM txr_pair
  UNION ALL SELECT conv_id, v AS u, u AS v, w FROM txr_pair),
txr_nodes AS MATERIALIZED (
  SELECT conv_id, turn_idx AS node,
         CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n_g
  FROM transcripts),
txr_adj AS MATERIALIZED (
  SELECT s.conv_id, s.u, s.v, s.w, o.outw
  FROM txr_sym s JOIN (SELECT conv_id, u, CAST(sum(w) AS BIGINT) AS outw
                       FROM txr_sym GROUP BY conv_id, u) o
    ON s.conv_id = o.conv_id AND s.u = o.u),
txr_r0 AS MATERIALIZED (
  SELECT conv_id, node, CAST({PR_SCALE} // n_g AS BIGINT) AS rank_scaled
  FROM txr_nodes){_unroll(rounds, step)}
SELECT conv_id, node AS turn_idx, rank_scaled FROM txr_r{rounds}"""


def q_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation rollup — the domain-blocklist decision table
    every web-scale mixer keeps (RefinedWeb/Dolma per-domain stats):
    volume, exact-duplicate rate off the content hash, predicted-language
    spread, and summed integer-micro quality.  Quality doubles are
    floored to micros PER ROW before summing so the aggregate is
    order-independent (never sum raw doubles across rows)."""
    p = q_text_profile(spark, sf_dir).select(
        "doc_id", "lang_pred", "quality", "content_hash", "n_ws_tokens"
    )
    d = _docs(spark, sf_dir).select("doc_id", "source")
    return (
        d.join(p, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_ws_tokens").cast("bigint").alias("total_tokens"),
            F.countDistinct("content_hash").cast("bigint").alias("distinct_docs"),
            F.countDistinct("lang_pred").cast("bigint").alias("n_langs"),
            F.sum(F.floor(F.col("quality") * 1000000).cast("bigint"))
            .cast("bigint")
            .alias("quality_micro_sum"),
        )
        .withColumn(
            "exact_dup_micro",
            F.expr("(n_docs - distinct_docs) * 1000000 DIV n_docs").cast("bigint"),
        )
    )


_SOURCE_PROFILE_SQL = """
WITH prof AS ({profile})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_ws_tokens) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT p.content_hash) AS BIGINT) AS distinct_docs,
       CAST(count(DISTINCT p.lang_pred) AS BIGINT) AS n_langs,
       CAST(sum(CAST(floor(p.quality * 1000000) AS BIGINT)) AS BIGINT)
         AS quality_micro_sum,
       CAST((count(*) - count(DISTINCT p.content_hash)) * 1000000 // count(*)
            AS BIGINT) AS exact_dup_micro
FROM documents d JOIN prof p USING (doc_id)
GROUP BY d.source
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full construction pipeline,
    returning the ranked canonical edge list (relationship.csv analogue)."""
    s = _stages(spark, "/root/testdata/sf0.001")
    ranked = with_edge_rank(s["edges"], s["degrees"])
    return ranked.select(
        "source",
        "target",
        F.col("weight").cast("double").alias("weight"),
        "source_degree",
        "target_degree",
        "rank",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "transcripts": q_transcripts,
        "conv_docs": q_conv_docs,
        "text_units": q_text_units,
        "sentence_units": q_sentence_units,
        "mentions": q_mentions,
        "kg_nodes": q_nodes,
        "kg_edges": q_edges,
        "node_degrees": q_degrees,
        "edge_rank": q_edge_rank,
        "linked_nodes": q_linked_nodes,
        "connected_components": q_components,
        "largest_component": q_largest_component,
        "communities_lpa": q_communities,
        "cc_dist": q_components_dist,
        "lpa_dist": q_communities_dist,
        "cc_warm": q_cc_warm,
        "lpa_warm": q_lpa_warm,
        "pr_warm": q_pr_warm,
        "partition_agreement": q_partition_agreement,
        "cluster_drift": q_cluster_drift,
        "qa_turns": q_qa_turns,
        "last_user_turns": q_last_user_turns,
        "conv_context": q_conv_context,
        "node2vec_emb": q_node2vec,
        "canonicalization": q_canonicalization,
        "canonical_nodes": q_canonical_nodes,
        "canonical_edges": q_canonical_edges,
        "top_entities": q_top_entities,
        "related_entities": q_related_entities,
        "out_network": q_out_network,
        "community_weight": q_community_weight,
        "entity_search": q_entity_search,
        "hybrid_entities": q_hybrid_entities,
        "text_unit_links": q_text_unit_links,
        "local_search": q_local_search,
        "global_search": q_global_search,
        "claims": q_claims,
        "summarized_edges": q_summarized_edges,
        "community_reports": q_community_reports,
        "community_hierarchy": q_community_hierarchy,
        "community_hierarchy3": q_community_hierarchy3,
        "text_profile": q_text_profile,
        "pii_scrub": q_pii_scrub,
        "corpus_stats": q_corpus_stats,
        "corpus_mix": q_corpus_mix,
        "stratum_cap": q_stratum_cap,
        "seq_pack": q_seq_pack,
        "decontam": q_decontam,
        "decontam_pairs": q_decontam_pairs,
        "familiarity": q_familiarity,
        "repeated_spans": q_repeated_spans,
        "dsir_select": q_dsir_select,
        "ccnet_buckets": q_ccnet_buckets,
        "kmv_overlap": q_kmv_overlap,
        "diverse_keep": q_diverse_keep,
        "filter_audit": q_filter_audit,
        "semantic_dedup": q_semantic_dedup,
        "contrastive_pairs": q_contrastive_pairs,
        "kmeans_cells": q_kmeans,
        "semantic_dedup_km": q_semantic_dedup_km,
        "top_terms": q_top_terms,
        "hll_tokens": q_hll_tokens,
        "hyperball": q_hyperball,
        "cms_counts": q_cms_counts,
        "length_hist": q_length_hist,
        "hll_lang": q_hll_lang,
        "degree_hist": q_degree_hist,
        "bloom_words": q_bloom_words,
        "decontam_bloom": q_decontam_bloom,
        "pagerank": q_pagerank,
        "katz": q_katz,
        "betweenness": q_betweenness,
        "kg_asof": q_kg_asof,
        "kg_diff": q_kg_diff,
        "kg_retract": q_kg_retract,
        "type_mixing": q_type_mixing,
        "typed_lpa": q_typed_lpa,
        "max_matching": q_max_matching,
        "coarsen": q_coarsen,
        "coarsen_l2": q_coarsen_l2,
        "sssp": q_sssp,
        "four_cycles": q_four_cycles,
        "emb_prefix_topk": q_emb_prefix_topk,
        "diameter_lb": q_diameter_lb,
        "wl_colors": q_wl_colors,
        "msf": q_msf,
        "densest": q_densest,
        "knn_graph": q_knn_graph,
        "lp_ranking": q_lp_ranking,
        "topic_segments": q_topic_segments,
        "negative_samples": q_negative_samples,
        "jp_coloring": q_jp_coloring,
        "pagerank_w": q_pagerank_w,
        "exact_dedup": q_exact_dedup,
        "ngram_dedup": q_ngram_dedup,
        "dedup_clusters": q_dedup_clusters,
        "minhash_dedup": q_minhash_dedup,
        "minhash_incr": q_minhash_incr,
        "simhash_dedup": q_simhash_dedup,
        "emb_topk": q_emb_topk,
        "emb_ivf_topk": q_emb_ivf_topk,
        "emb_neardup": q_emb_neardup,
        "emb_neardup_lsh": q_emb_neardup_lsh,
        "copurchase_rank": q_copurchase_rank,
        "k_truss": q_k_truss,
        "hash_split": q_hash_split,
        "leakfree_split": q_leakfree_split,
        "length_stats": q_length_stats,
        "bfs_hops": q_bfs_hops,
        "media_meta": q_media_meta,
        "frame_plan": q_frame_plan,
        "sessions": q_sessions,
        "tool_transitions": q_tool_transitions,
        "tool_scc": q_tool_scc,
        "turn_latency": q_turn_latency,
        "role_profile": q_role_profile,
        "widest_paths": q_widest_paths,
        "hits": q_hits,
        "bpe_merges": q_bpe_merges,
        "event_hourly": q_event_hourly,
        "textrank": q_textrank,
        "source_profile": q_source_profile,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "transcripts": _oracle(
            """
            SELECT conv_id, turn_idx, role, text, tool,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
            FROM transcripts
            """
        ),
        "conv_docs": _oracle("SELECT doc_id, conv_id, text, n_turns FROM conv_docs"),
        "text_units": _oracle(
            "SELECT id, doc_id, conv_id, chunk_idx, chunk, n_tokens FROM text_units"
        ),
        "mentions": _oracle("SELECT text_unit_id, conv_id, mention FROM ment_occ"),
        "sentence_units": _oracle(
            """
            SELECT sha256(doc_id || ':' || CAST(ci - 1 AS VARCHAR)) AS id,
                   doc_id, conv_id, CAST(ci - 1 AS INT) AS chunk_idx,
                   trim(s) AS chunk,
                   CAST(len(list_filter(regexp_split_to_array(trim(s), '\\s+'),
                        x -> x <> '')) AS INT) AS n_tokens
            FROM (
              SELECT doc_id, conv_id,
                     unnest(regexp_extract_all(text, '[^.!?]+[.!?]*')) AS s,
                     generate_subscripts(regexp_extract_all(text, '[^.!?]+[.!?]*'), 1) AS ci
              FROM conv_docs
            ) WHERE trim(s) <> ''
            """
        ),
        "kg_nodes": _oracle(
            "SELECT title, type, description, source_ids FROM kg_nodes"
        ),
        "kg_edges": _oracle(
            "SELECT source, target, weight, description, text_unit_ids FROM kg_edges"
        ),
        "node_degrees": _oracle("SELECT title, degree FROM degrees"),
        "edge_rank": _oracle(
            """
            SELECT e.source, e.target, e.weight,
                   CAST(coalesce(ds.degree, 0) AS INT) AS source_degree,
                   CAST(coalesce(dt.degree, 0) AS INT) AS target_degree,
                   CAST(coalesce(ds.degree, 0) + coalesce(dt.degree, 0) AS INT) AS rank
            FROM kg_edges e
            LEFT JOIN degrees ds ON e.source = ds.title
            LEFT JOIN degrees dt ON e.target = dt.title
            """
        ),
        "linked_nodes": _oracle(
            """
            SELECT n.title,
                   coalesce(a.canonical_name, n.title) AS canonical_name,
                   CAST(coalesce(a.score, 1.0) AS DOUBLE) AS link_score
            FROM kg_nodes n LEFT JOIN alias_dict a ON upper(n.title) = upper(a.alias)
            """
        ),
        "connected_components": _oracle(_CC_BODY),
        "largest_component": _oracle(
            f"""
            , {_CC_REACH},
            comp AS (SELECT node AS title, min(r) AS component FROM reach GROUP BY node),
            top AS (
              SELECT component FROM comp GROUP BY component
              ORDER BY count(*) DESC, component LIMIT 1
            )
            SELECT c.title, c.component FROM comp c JOIN top USING (component)
            """
        ),
        "communities_lpa": _oracle(_lpa_body()),
        # distributed-path twins: identical fixpoints, so identical oracles
        "cc_dist": _oracle(_CC_BODY),
        "lpa_dist": _oracle(_lpa_body()),
        # warm-start CC converges to the same init-independent fixpoint,
        # so its oracle is the plain full-graph min-reachability CTE
        "cc_warm": _oracle(_CC_BODY),
        "lpa_warm": _oracle(_lpa_warm_body()),
        "pr_warm": _oracle(_pr_warm_body()),
        "partition_agreement": _oracle(_partition_agreement_body()),
        "cluster_drift": _oracle(_cluster_drift_body()),
        "qa_turns": _oracle(
            """
            , qa AS (
              SELECT conv_id, turn_idx, role, text,
                     CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                          OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT)
                       AS qa_idx
              FROM transcripts
            )
            SELECT conv_id, qa_idx,
                   max(CASE WHEN role = 'user' THEN text END) AS user_query,
                   string_agg(CASE WHEN role <> 'user' THEN text END, chr(10)
                              ORDER BY turn_idx) AS answer_text,
                   CAST(count(CASE WHEN role <> 'user' THEN 1 END) AS INT)
                     AS n_answers
            FROM qa WHERE qa_idx > 0
            GROUP BY conv_id, qa_idx
            """
        ),
        "last_user_turns": _oracle(
            """
            SELECT conv_id, recency, text FROM (
              SELECT conv_id, text,
                     CAST(row_number() OVER (PARTITION BY conv_id
                          ORDER BY turn_idx DESC) AS INT) AS recency
              FROM transcripts WHERE role = 'user'
            ) WHERE recency <= 2
            """
        ),
        "conv_context": _oracle(
            """
            , qa2 AS (
              SELECT conv_id, turn_idx, role, text,
                     CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                          OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT)
                       AS qa_idx
              FROM transcripts
            ),
            qsel AS (
              SELECT conv_id, qa_idx,
                     max(CASE WHEN role = 'user' THEN text END) AS content
              FROM qa2 WHERE qa_idx > 0 GROUP BY conv_id, qa_idx
            ),
            rec AS (
              SELECT conv_id, content,
                     CAST(row_number() OVER (PARTITION BY conv_id
                          ORDER BY qa_idx DESC) AS INT) AS rk
              FROM qsel
            ),
            cap AS (
              SELECT conv_id, rk, content,
                     CAST(len(list_filter(regexp_split_to_array(content, '\\s+'),
                          x -> x <> '')) AS INT) AS n_tokens
              FROM rec WHERE rk <= 5
            ),
            run AS (
              SELECT conv_id, rk, content, n_tokens,
                     CAST(SUM(n_tokens) OVER (PARTITION BY conv_id ORDER BY rk)
                          AS INT) AS cum_tokens
              FROM cap
            )
            SELECT conv_id, rk, content, n_tokens, cum_tokens
            FROM run WHERE cum_tokens <= 30
            """
        ),
        "community_hierarchy": _oracle(_hierarchy_body()),
        "community_hierarchy3": _cp_hier3_sql(),
        "canonicalization": _oracle(_CANONICALIZATION_BODY),
        "canonical_nodes": _oracle(_CANON_CTE + """
            SELECT t.title, t.type, d.description, s.source_ids
            FROM ctype t JOIN cdesc_agg d USING (title) JOIN csrc_agg s USING (title)
            """),
        "canonical_edges": _oracle(_CANON_CTE + """
            , cedge AS (
              SELECT least(coalesce(ms.canonical, e.source),
                           coalesce(mt.canonical, e.target)) AS source,
                     greatest(coalesce(ms.canonical, e.source),
                              coalesce(mt.canonical, e.target)) AS target,
                     e.weight, e.description, e.text_unit_ids
              FROM kg_edges e
              LEFT JOIN cmap ms ON e.source = ms.title
              LEFT JOIN cmap mt ON e.target = mt.title
              WHERE coalesce(ms.canonical, e.source) <> coalesce(mt.canonical, e.target)
            ),
            ew AS (
              SELECT source, target, CAST(sum(weight) AS DOUBLE) AS weight
              FROM cedge GROUP BY source, target
            ),
            ed AS (
              SELECT source, target,
                     string_agg(DISTINCT d, chr(10) ORDER BY d) AS description
              FROM (SELECT source, target,
                           unnest(string_split(description, chr(10))) AS d FROM cedge)
              GROUP BY source, target
            ),
            et AS (
              SELECT source, target,
                     string_agg(DISTINCT u, ',' ORDER BY u) AS text_unit_ids
              FROM (SELECT source, target,
                           unnest(string_split(text_unit_ids, ',')) AS u FROM cedge)
              GROUP BY source, target
            )
            SELECT w.source, w.target, w.weight, d.description, t.text_unit_ids
            FROM ew w JOIN ed d USING (source, target) JOIN et t USING (source, target)
            """),
        "top_entities": _oracle(
            f"""
            , nwd AS (
              SELECT n.title, coalesce(d.degree, 0) AS degree
              FROM kg_nodes n LEFT JOIN degrees d USING (title)
            )
            SELECT title, degree,
                   CAST(row_number() OVER (ORDER BY degree DESC, title) AS INT) AS rk
            FROM nwd QUALIFY rk <= {TOP_ENTITIES_K}
            """
        ),
        "related_entities": _oracle(
            f"""
            , er AS (
              SELECT e.source, e.target, e.weight,
                     coalesce(ds.degree, 0) + coalesce(dt.degree, 0) AS rank
              FROM kg_edges e
              LEFT JOIN degrees ds ON e.source = ds.title
              LEFT JOIN degrees dt ON e.target = dt.title
            ),
            nbrs AS (
              SELECT CASE WHEN source = '{RELATED_ENTITY}' THEN target
                          ELSE source END AS neighbor,
                     weight, CAST(rank AS INT) AS rank
              FROM er WHERE source = '{RELATED_ENTITY}' OR target = '{RELATED_ENTITY}'
            )
            SELECT neighbor, weight, rank,
                   CAST(row_number() OVER (ORDER BY weight DESC, rank DESC, neighbor)
                        AS INT) AS rk
            FROM nbrs QUALIFY rk <= {TOP_ENTITIES_K}
            """
        ),
        "out_network": _oracle(
            f"""
            , sel(title) AS (VALUES {", ".join(f"('{t}')" for t in SELECTED_ENTITIES)}),
            er AS (
              SELECT e.source, e.target, e.weight,
                     CAST(coalesce(ds.degree, 0) + coalesce(dt.degree, 0) AS INT) AS rank
              FROM kg_edges e
              LEFT JOIN degrees ds ON e.source = ds.title
              LEFT JOIN degrees dt ON e.target = dt.title
            ),
            flagged AS (
              SELECT er.*,
                     CASE WHEN ss.title IS NULL THEN 0 ELSE 1 END AS s_in,
                     CASE WHEN st.title IS NULL THEN 0 ELSE 1 END AS t_in
              FROM er LEFT JOIN sel ss ON er.source = ss.title
                      LEFT JOIN sel st ON er.target = st.title
            ),
            out_net AS (
              SELECT source, target, weight, rank,
                     CASE WHEN s_in = 0 THEN source ELSE target END AS external
              FROM flagged WHERE s_in + t_in = 1
            )
            SELECT o.source, o.target, o.weight, o.rank, o.external,
                   CAST(l.links AS INT) AS links
            FROM out_net o
            JOIN (SELECT external, count(*) AS links FROM out_net GROUP BY external) l
              USING (external)
            """
        ),
        "community_weight": _oracle(
            f"""
            , {_CC_REACH},
            comm AS (SELECT node AS title, min(r) AS community FROM reach GROUP BY node),
            member_units AS (
              SELECT DISTINCT c.community, unnest(string_split(n.source_ids, ',')) AS unit
              FROM kg_nodes n JOIN comm c USING (title)
            ),
            wgt AS (
              SELECT community, CAST(count(DISTINCT unit) AS INT) AS n_text_units
              FROM member_units GROUP BY community
            )
            SELECT community, n_text_units,
                   n_text_units / CAST(max(n_text_units) OVER () AS DOUBLE)
                     AS normalized_weight
            FROM wgt
            """
        ),
        "text_unit_links": _oracle(_TEXT_UNIT_LINKS_BODY),
        "node2vec_emb": _oracle(_node2vec_body()),
        "local_search": _oracle(_local_search_body()),
        "global_search": _oracle(_global_search_body()),
        "claims": _oracle(_CLAIMS_BODY),
        "summarized_edges": _oracle(_SUMMARIZED_EDGES_BODY),
        "community_reports": _oracle(_REPORTS_BODY),
        "text_profile": _TEXT_PROFILE_SQL,
        # PII gate: pattern strings come from functions/pii.py verbatim
        # (patterns stay in the Java-regex ∩ RE2 subset); PII is injected
        # by the same expression both sides so redaction is non-vacuous
        "pii_scrub": f"""
WITH paug AS (
  SELECT doc_id,
         text || ' Contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call 555-123-4567 from host 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7 now' AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{pii_fns.EMAIL_RE}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(t, '{pii_fns.PHONE_RE}')) AS INT) AS n_phones,
  CAST(len(regexp_extract_all(t, '{pii_fns.IPV4_RE}')) AS INT) AS n_ips,
  sha256(
    regexp_replace(
      regexp_replace(
        regexp_replace(t, '{pii_fns.EMAIL_RE}', '{pii_fns.EMAIL_TOKEN}', 'g'),
        '{pii_fns.PHONE_RE}', '{pii_fns.PHONE_TOKEN}', 'g'),
      '{pii_fns.IPV4_RE}', '{pii_fns.IP_TOKEN}', 'g')) AS redacted_hash
FROM paug
""",
        "corpus_stats": f"""
WITH prof AS ({_TEXT_PROFILE_SQL})
SELECT coalesce(lang_pred, 'ALL') AS lang,
       count(*) AS n_docs,
       CAST(sum(n_ws_tokens) AS BIGINT) AS total_tokens,
       min(n_ws_tokens) AS min_tokens,
       max(n_ws_tokens) AS max_tokens,
       CAST(count(DISTINCT content_hash) AS BIGINT) AS distinct_docs
FROM prof GROUP BY ROLLUP(lang_pred)
""",
        "corpus_mix": f"""
WITH prof AS ({_TEXT_PROFILE_SQL}),
p AS (SELECT doc_id, lang_pred AS lang, n_ws_tokens FROM prof),
r(lang, rate) AS (VALUES {", ".join(f"('{lang}', {rate})" for lang, rate in MIX_RATES)}),
j AS (
  SELECT p.doc_id, p.lang, p.n_ws_tokens, coalesce(r.rate, 1.0) AS rate,
         CAST(({HASH_A} * (p.doc_id % {textqc.FP_MOD}) + {HASH_C}) % {HASH_M31} AS DOUBLE)
           / {HASH_M31} AS key
  FROM p LEFT JOIN r USING (lang)
)
SELECT doc_id, lang, n_ws_tokens,
       CAST(floor(key * 1000000) AS BIGINT) AS key_micro
FROM j WHERE key < rate
""",
        "stratum_cap": f"""
WITH prof AS ({_TEXT_PROFILE_SQL}),
p AS (
  SELECT doc_id, lang_pred AS lang,
         CAST(({_CAP_A} * (doc_id % {textqc.FP_MOD}) + {_CAP_B}) % {HASH_M31} AS BIGINT) AS pri
  FROM prof
),
rk AS (
  SELECT doc_id, lang, pri,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS INT) AS rk
  FROM p
)
SELECT doc_id, lang, pri, rk FROM rk WHERE rk <= {STRATUM_K}
""",
        "seq_pack": f"""
WITH prof AS ({_TEXT_PROFILE_SQL}),
p AS (SELECT doc_id, n_ws_tokens AS n_tokens FROM prof),
b AS (
  SELECT doc_id, n_tokens,
         CAST((({HASH_A} * (doc_id % {textqc.FP_MOD}) + {HASH_C}) % {HASH_M31})
              % {PACK_BUCKETS} AS INT) AS bucket
  FROM p
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM b
)
SELECT doc_id, n_tokens, bucket,
       CAST(floor(CAST(cum - n_tokens AS DOUBLE) / {PACK_TARGET}) AS BIGINT) AS seq_id,
       CAST(cum - n_tokens AS BIGINT) AS start_offset
FROM c
""",
        "decontam": _DECONTAM_SQL,
        "decontam_pairs": _DECONTAM_PAIRS_SQL,
        "familiarity": _FAMILIARITY_SQL,
        "repeated_spans": _REPEATED_SPANS_SQL,
        "dsir_select": _DSIR_SQL,
        "kmv_overlap": _KMV_SQL.format(M=KMV_MOD, K=KMV_K),
        "diverse_keep": _mis_oracle(MIS_ROUNDS),
        "ccnet_buckets": f"""
WITH prof AS ({_TEXT_PROFILE_SQL}),
fam AS ({_FAMILIARITY_SQL}),
scored AS (
  SELECT p.doc_id, p.lang_pred AS lang, f.mean_bits_micro
  FROM prof p JOIN fam f USING (doc_id)
),
ranked AS (
  SELECT s.*, CAST(row_number() OVER (PARTITION BY lang
                ORDER BY mean_bits_micro DESC, doc_id) AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS _n
  FROM scored s
)
SELECT doc_id, lang, mean_bits_micro, rk,
       CASE WHEN 3 * rk <= _n THEN 'head'
            WHEN 3 * rk <= 2 * _n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
""",
        "filter_audit": _FILTER_AUDIT_SQL,
        "semantic_dedup": _SEMANTIC_DEDUP_SQL,
        "contrastive_pairs": f"""
WITH {_UNIT_CTE},
cells AS (SELECT vec_id, CAST({_IVF_CELL} AS BIGINT) AS cell FROM emb),
celled AS (SELECT u.vec_id, u.e, c.cell FROM uemb u JOIN cells c USING (vec_id)),
prs AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS other_id, {_COS_MICRO} AS sim_micro
  FROM celled a JOIN celled b ON a.cell = b.cell AND a.vec_id <> b.vec_id
),
pos AS (
  SELECT anchor_id, other_id AS pos_id, sim_micro AS pos_sim_micro
  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY sim_micro DESC, other_id) AS rn
        FROM prs WHERE sim_micro >= {int(NEARDUP_TAU * similarity.SIM_SCALE)})
  WHERE rn = 1
),
neg AS (
  SELECT anchor_id, other_id AS neg_id, sim_micro AS neg_sim_micro
  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY sim_micro DESC, other_id) AS rn
        FROM prs WHERE sim_micro < {int(NEARDUP_TAU * similarity.SIM_SCALE)})
  WHERE rn = 1
)
SELECT p.anchor_id, p.pos_id, p.pos_sim_micro, n.neg_id, n.neg_sim_micro
FROM pos p JOIN neg n USING (anchor_id)
""",
        "kmeans_cells": _KMEANS_SQL,
        "semantic_dedup_km": _SEMANTIC_DEDUP_KM_SQL,
        "top_terms": _TOP_TERMS_SQL,
        "hll_tokens": _HLL_SQL,
        "hyperball": _oracle(_hyperball_oracle(HYPERBALL_ROUNDS)),
        "cms_counts": _CMS_SQL,
        "length_hist": _LENGTH_HIST_SQL,
        "hll_lang": _HLL_LANG_SQL,
        "degree_hist": _oracle("""
SELECT CAST(CASE WHEN degree <= 0 THEN 0
                 ELSE length(bin(CAST(degree AS BIGINT))) END AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM degrees GROUP BY 1"""),
        "bloom_words": _BLOOM_WORDS_SQL,
        # the bloom-pruned plan must reproduce the PLAIN decontamination
        # answer bit-for-bit (no false negatives + exact verify)
        "decontam_bloom": _DECONTAM_SQL,
        "pagerank": _oracle(_pr_body()),
        "katz": _oracle(_katz_body()),
        "betweenness": _oracle(_bw_body()),
        "kg_asof": _asof_oracle(),
        "kg_diff": _oracle(_kg_diff_body()),
        "kg_retract": _retract_oracle(),
        "type_mixing": _oracle("""
SELECT least(ta.type, tb.type) AS type_a,
       greatest(ta.type, tb.type) AS type_b,
       CAST(count(*) AS BIGINT) AS n_edges
FROM kg_edges e
JOIN kg_nodes ta ON ta.title = e.source
JOIN kg_nodes tb ON tb.title = e.target
GROUP BY least(ta.type, tb.type), greatest(ta.type, tb.type)
"""),
        "typed_lpa": _oracle(_tlp_body()),
        "max_matching": _oracle(_mm_body()),
        "coarsen": _oracle(_coarsen_body()),
        "coarsen_l2": _oracle(_coarsen_hier_body()),
        "sssp": _oracle(_sssp_body()),
        "four_cycles": _oracle(_C4_BODY),
        "emb_prefix_topk": _EMB_PREFIX_TOPK_SQL,
        "diameter_lb": _oracle(_ds_body()),
        "wl_colors": _oracle(_wl_body()),
        "msf": _oracle(_msf_body()),
        "lp_ranking": _oracle(_lp_body()),
        "densest": _oracle(_densest_body()),
        "knn_graph": _oracle(
            f"""
            , kn_e0 AS (
              SELECT least(source, target) AS a, greatest(source, target) AS b,
                     max(weight) AS w
              FROM kg_edges WHERE source <> target GROUP BY 1, 2),
            kn_es AS (SELECT a, b, w, a || '|' || b AS estr FROM kn_e0)
            SELECT a AS source, b AS target, CAST(w AS DOUBLE) AS weight,
                   CAST(count(*) AS INT) AS kept_by
            FROM (
              SELECT a, b, w,
                     row_number() OVER (
                       PARTITION BY c ORDER BY w DESC, estr) AS rn
              FROM (SELECT a AS c, a, b, w, estr FROM kn_es
                    UNION ALL SELECT b, a, b, w, estr FROM kn_es)
            ) WHERE rn <= {KNN_K}
            GROUP BY a, b, w
            """
        ),
        "topic_segments": _oracle(_TSEG_BODY),
        "negative_samples": _oracle(_NEGS_BODY),
        "jp_coloring": _oracle(_jp_body()),
        "pagerank_w": _oracle(_pr_body(weighted=True)),
        "widest_paths": _oracle(_wp_body()),
        "hits": _oracle(_hits_body()),
        "tool_transitions": _oracle(_TOOL_TRANS_BODY),
        "tool_scc": _oracle(_scc_oracle_body(SCC_INNER, SCC_OUTER)),
        "turn_latency": _oracle(_TURN_LATENCY_BODY),
        "role_profile": _oracle(_ROLE_PROFILE_BODY),
        "bpe_merges": _bpe_oracle(BPE_ROUNDS),
        "exact_dedup": _EXACT_DEDUP_SQL,
        "ngram_dedup": _NGRAM_DEDUP_SQL,
        "dedup_clusters": _DEDUP_CLUSTERS_SQL,
        "entity_search": _oracle(_ENTITY_SEARCH_BODY),
        "hybrid_entities": _oracle(
            f"""
            , esel AS {_embed(_ENTITY_SEARCH_BODY)},
            nwd AS (
              SELECT n.title, coalesce(d.degree, 0) AS degree
              FROM kg_nodes n LEFT JOIN degrees d USING (title)
            ),
            tsel AS (
              SELECT title, rk FROM (
                SELECT title,
                       row_number() OVER (ORDER BY degree DESC, title) AS rk
                FROM nwd
              ) WHERE rk <= {TOP_ENTITIES_K}
            ),
            uni AS (
              SELECT title, CAST(floor(1000000 / (60 + rk)) AS BIGINT) AS term FROM tsel
              UNION ALL
              SELECT title, CAST(floor(1000000 / (60 + rk)) AS BIGINT) AS term FROM esel
            ),
            sc AS (
              SELECT title, CAST(sum(term) AS BIGINT) AS rrf_micro,
                     CAST(count(*) AS INT) AS n_lists
              FROM uni GROUP BY title
            )
            SELECT title, rrf_micro, n_lists,
                   CAST(row_number() OVER (ORDER BY rrf_micro DESC, title) AS INT) AS rk
            FROM sc
            """
        ),
        "minhash_dedup": _MINHASH_DEDUP_SQL,
        "minhash_incr": _MINHASH_DEDUP_SQL,
        "simhash_dedup": _SIMHASH_DEDUP_SQL,
        "emb_neardup_lsh": _EMB_NEARDUP_LSH_SQL,
        "copurchase_rank": _cp_rank_sql(),
        "k_truss": _oracle(_ktruss_body()),
        "hash_split": _HASH_SPLIT_SQL,
        "leakfree_split": f"""
WITH dupc AS ({_DEDUP_CLUSTERS_SQL})
SELECT doc_id, canonical_id,
  CASE WHEN key < {SPLIT_TEST_FRAC} THEN 'test'
       WHEN key < {SPLIT_TEST_FRAC + SPLIT_VAL_FRAC} THEN 'val'
       ELSE 'train' END AS split,
  CAST(floor(key * 1000000) AS BIGINT) AS key_micro
FROM (SELECT doc_id, canonical_id,
        CAST(({_SPLIT_A} * (canonical_id % {textqc.FP_MOD}) + {_SPLIT_B}) % {HASH_M31} AS DOUBLE)
          / {HASH_M31} AS key
      FROM dupc)
""",
        "length_stats": _LENGTH_STATS_SQL.format(profile=_TEXT_PROFILE_SQL),
        "bfs_hops": _oracle(_bfs_body()),
        "emb_topk": _EMB_TOPK_SQL,
        "emb_ivf_topk": _EMB_IVF_SQL,
        "emb_neardup": _EMB_NEARDUP_SQL,
        "media_meta": _MEDIA_META_SQL,
        "frame_plan": _FRAME_PLAN_SQL,
        # Batch sessionization (gap 30 min): exact int64 micro timestamps
        # and DECIMAL(18,2) value sums keep both engines bit-identical
        # (double summation would be fold-order-dependent).
        "sessions": _oracle(
            """
            , sev AS (
              SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                     CAST(value AS DECIMAL(18,2)) AS val
              FROM events
            ),
            slag AS (
              SELECT *, lag(ts_us) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
              FROM sev
            ),
            sflag AS (
              SELECT *, CASE WHEN prev_us IS NULL
                              OR ts_us - prev_us > 1800000000
                         THEN 1 ELSE 0 END AS is_new
              FROM slag
            ),
            sidx AS (
              SELECT *, sum(is_new) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS session_idx
              FROM sflag
            )
            SELECT user_id,
                   CAST(user_id AS VARCHAR) || '-' ||
                     CAST(session_idx AS VARCHAR) AS session_id,
                   min(ts_us) AS start_us,
                   max(ts_us) AS end_us,
                   count(*) AS n_events,
                   CAST(sum(val) AS DOUBLE) AS total_value,
                   max(ts_us) - min(ts_us) AS duration_us
            FROM sidx GROUP BY user_id, session_idx
            """
        ),
        "event_hourly": _oracle(
            """
            SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
                   event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
            """
        ),
        "textrank": _oracle(_textrank_body()),
        "source_profile": _SOURCE_PROFILE_SQL.format(profile=_TEXT_PROFILE_SQL),
    }
