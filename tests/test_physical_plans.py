"""Physical-plan assertions: the plans we designed for, not just the
first ones that passed (.explain-driven engineering).

These run `explain` only — no job execution — so they are cheap and
catch plan regressions (a lost broadcast, a filter that stopped pushing
down, Python appearing in a native path) at test time.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.functions import textqc
from knowledge_graph_spark.operators.graphops import with_edge_rank
from knowledge_graph_spark.operators.linking import link_aliases
from knowledge_graph_spark.operators.query import split_network_relationships

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_filter_and_projection_push_into_scan(spark, docs):
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    p = plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p
    # column pruning: the wide text column must not reach the scan
    read_schema = p.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" not in read_schema and "doc_id" in read_schema


def test_textqc_stays_jvm_side(spark, docs):
    """All text-QC ops must run in the JVM — no Python/Arrow eval nodes.
    (Higher-order lambdas disable whole-stage codegen by design, so the
    codegen assertion applies only to the lambda-free expressions.)"""
    q = docs.select(
        textqc.quality_score(F.col("text")).alias("q"),
        textqc.lang_id(F.col("text")).alias("lang"),
        textqc.rolling_fingerprint(F.col("text")).alias("fp"),
        textqc.content_hash(F.col("text")).alias("h"),
    )
    p = plan(q)
    assert "PythonUDF" not in p and "ArrowEval" not in p and "BatchEval" not in p

    codegen_friendly = docs.select(
        textqc.content_hash(F.col("text")).alias("h"),
        textqc.bpeish_token_count(F.col("text")).alias("n"),
    )
    # "*(n)" prefix marks whole-stage-codegen spans in the plan string
    assert plan(codegen_friendly).lstrip().startswith("*(")


def test_parse_stage_has_no_python_udf(spark):
    from knowledge_graph_spark.operators.parse import parse_and_merge

    raw = spark.createDataFrame(
        [("c", "u", '("entity"<|>A<|>T<|>d)##<|COMPLETE|>')],
        "conv_id string, text_unit_id string, records string",
    )
    nodes, edges = parse_and_merge(raw)
    for df in (nodes, edges):
        p = plan(df)
        assert "PythonUDF" not in p and "ArrowEval" not in p


def test_alias_linking_broadcasts_dictionary(spark):
    big = spark.createDataFrame([("ACME",), ("X",)], "title string")
    d = spark.createDataFrame(
        [("ACME", "ACME_CORP", 1.0)], "alias string, canonical_name string, score double"
    )
    p = plan(link_aliases(big, d))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_edge_rank_uses_broadcast_joins(spark):
    edges = spark.createDataFrame([("A", "B", 1.0)], "source string, target string, weight double")
    degrees = spark.createDataFrame([("A", 1), ("B", 1)], "title string, degree int")
    p = plan(with_edge_rank(edges, degrees))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_out_network_broadcasts_selection(spark):
    edges = spark.createDataFrame(
        [("A", "B", 1.0, 2)], "source string, target string, weight double, rank int"
    )
    sel = spark.createDataFrame([("A",)], "title string")
    _, out_net = split_network_relationships(edges, sel)
    p = plan(out_net)
    assert "BroadcastHashJoin" in p


def test_merge_strategies_plans_and_equality(spark):
    """Default merge is the salted two-phase (north-star strategy, two
    grouping key sets); the single-phase variant partial-aggregates
    map-side in one shuffle; both must produce identical results
    (including the provenance cap)."""
    from knowledge_graph_spark.operators.parse import merge_nodes, merge_nodes_single

    ents = spark.createDataFrame(
        [
            ("A", "T", "d1", "s1", ("c", "u1", 0)),
            ("A", "T", "d2", "s2", ("c", "u2", 0)),
            ("B", "", "", "s1", ("c", "u1", 1)),
        ],
        "name string, type string, description string, source_id string, "
        "ord struct<conv_id:string,text_unit_id:string,rec_idx:int>",
    )
    p_default = plan(merge_nodes(ents))
    assert "pmod" in p_default and p_default.count("ObjectHashAggregate") == 4
    p_single = plan(merge_nodes_single(ents))
    # partial + final of one grouping -> exactly 2 ObjectHashAggregate nodes
    assert p_single.count("ObjectHashAggregate") == 2
    assert "pmod" not in p_single

    def norm(df):
        return sorted((r.title, r.type, r.description, tuple(r.source_id)) for r in df.collect())

    assert norm(merge_nodes(ents)) == norm(merge_nodes_single(ents))
    capped = {r.title: r.source_id for r in merge_nodes(ents, max_source_ids=1).collect()}
    assert capped["A"] == ["s1"]  # first K of the sorted provenance set


def test_global_index_complete_at_high_partition_counts(spark):
    """Regression: with 64 shuffle partitions + AQE, the offsets subtree
    once re-evaluated repartitionByRange with a different sampled
    partitioner, mismatching partition ids and silently dropping rows
    (19 nodes → 3 at sf0.1).  The ranked frame is persisted now; the
    index must stay complete and contiguous."""
    from knowledge_graph_spark.operators.graphops import with_global_index

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        df = spark.range(5000).selectExpr("concat('K', lpad(cast(id as string), 6, '0')) AS title")
        out = with_global_index(df, ["title"]).collect()
        assert len(out) == 5000
        assert sorted(r.human_readable_id for r in out) == list(range(5000))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_backlinks_and_sentence_chunker_stay_native(spark):
    """text_unit_backlinks is pure explode→groupBy inversion and the
    sentence chunker is pure Column algebra — no Python anywhere."""
    from knowledge_graph_spark.operators.chunk import split_sentence_units
    from knowledge_graph_spark.operators.query import text_unit_backlinks

    units = spark.createDataFrame(
        [("u1", "d1", "c1", 3)], "id string, doc_id string, conv_id string, n_tokens int"
    )
    nodes = spark.createDataFrame(
        [("A", ["u1"])], "title string, source_id array<string>"
    )
    edges = spark.createDataFrame(
        [("A", "B", ["u1"])], "source string, target string, text_unit_ids array<string>"
    )
    p = plan(text_unit_backlinks(units, nodes, edges))
    assert "PythonUDF" not in p and "ArrowEval" not in p

    docs = spark.createDataFrame(
        [("d1", "c1", "One. Two.", 1)],
        "doc_id string, conv_id string, text string, n_turns int",
    )
    p2 = plan(split_sentence_units(docs))
    assert "PythonUDF" not in p2 and "ArrowEval" not in p2


def test_rank_text_units_has_no_single_partition_window(spark):
    """Q6 ranking must use the two-phase global index: a whole-corpus
    caller must not funnel every ranked unit through one task (round-2
    verdict item #2)."""
    from knowledge_graph_spark.operators.query import rank_text_units

    tue = spark.createDataFrame(
        [("t1", "A"), ("t2", "B")], "text_unit_id string, title string"
    )
    order = spark.createDataFrame([("A", 1), ("B", 2)], "title string, entity_rank int")
    p = plan(rank_text_units(tue, order))
    assert "rangepartitioning" in p.lower()
    # only the #partitions-row offset subtree may single-partition
    assert p.count("SinglePartition") <= 1


def test_global_index_has_no_single_partition_exchange(spark):
    """Two-phase id assignment: the big-table side must be range-
    partitioned (parallel), never funneled through SinglePartition; only
    the #partitions-row offset table may use a single-partition window."""
    from knowledge_graph_spark.operators.graphops import with_edge_ids, with_node_ids

    nodes = spark.createDataFrame([("A", "T")], "title string, type string")
    edges = spark.createDataFrame([("A", "B")], "source string, target string")
    for df in (with_node_ids(nodes), with_edge_ids(edges)):
        p = plan(df)
        assert "rangepartitioning" in p.lower()
        # the only SinglePartition exchange allowed is under the broadcast
        # (offset) subtree — the main table side is range-partitioned, so
        # the plan has at most one, feeding a BroadcastExchange
        assert p.count("SinglePartition") <= 1
        assert "BroadcastHashJoin" in p


def test_native_extraction_no_python_and_matches_rule_backend(spark):
    from knowledge_graph_spark.operators.extract import (
        RuleBackend,
        emit_records,
        emit_records_native,
    )

    units = spark.createDataFrame(
        [
            ("u1", "c1", "USER_1 met ACME in CITY_3 with USER_1 and AGENT_0"),
            ("u2", "c1", "nothing here"),
            ("u3", "c2", ""),
            ("u4", "c2", "SOLO_MENTION"),
            ("u5", "c2", "A1X B2Y C3Z D4W E5V"),
        ],
        "id string, conv_id string, chunk string",
    )
    p = plan(emit_records_native(units))
    assert "PythonUDF" not in p and "ArrowEval" not in p
    py = {r.text_unit_id: r.records for r in emit_records(units, RuleBackend()).collect()}
    nat = {r.text_unit_id: r.records for r in emit_records_native(units).collect()}
    assert py == nat  # byte-identical record streams


def test_decontam_broadcasts_eval_index(spark, docs):
    """The eval-gram index must broadcast (map-side probe of the corpus
    gram stream); the corpus side must never shuffle into a sort-merge
    join against it."""
    from knowledge_graph_spark.operators.decontam import contamination_profile

    evalset = docs.limit(20).select("doc_id", "text")
    p = plan(contamination_profile(docs, evalset, n=8))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "PythonUDF" not in p


def test_familiarity_broadcasts_vocab_and_stays_native(spark, docs):
    from knowledge_graph_spark.operators.corpus import (
        familiarity_profile,
        unigram_counts,
    )

    counts = unigram_counts(docs)
    p = plan(familiarity_profile(docs, counts))
    assert "BroadcastHashJoin" in p
    assert "PythonUDF" not in p and "ArrowEval" not in p


def test_repeated_spans_shuffles_int_fingerprints(spark, docs):
    """The span shuffle must carry the int64 fingerprint, not the ~200-byte
    span string: no raw `span` column may appear in any Exchange output."""
    from knowledge_graph_spark.operators.dedup import repeated_span_profile

    p = plan(repeated_span_profile(docs))
    assert "PythonUDF" not in p
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "span#" not in line


def test_pagerank_plan_is_integer_and_distributed(spark):
    """One round of the PR loop: contributions flow through hash
    aggregation (map-side partial sums) — no single-partition exchange,
    no Python."""
    from knowledge_graph_spark.operators.graphops import pagerank_int

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "source string, target string"
    )
    p = plan(pagerank_int(edges, iterations=1))
    assert "PythonUDF" not in p
    assert "SinglePartition" not in p


def test_kmeans_broadcasts_centroids_no_python(spark):
    """Lloyd assignment must broadcast the k-row centroid table (never
    shuffle the corpus against it) and stay in native integer columns."""
    from knowledge_graph_spark.operators.kmeans import kmeans_assignments

    rows = [(i, [float(i % 5), float(i % 3)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    p = plan(kmeans_assignments(df, k=4, iterations=1))
    assert "Broadcast" in p  # BroadcastNestedLoopJoin on the centroid side
    assert "PythonUDF" not in p and "ArrowEval" not in p


def test_bm25_broadcasts_scalars_no_python(spark, docs):
    """The (n_docs, total_len) 1-row frame rides a broadcast; scoring is
    whole-stage-codegen column algebra."""
    from knowledge_graph_spark.operators.keywords import bm25_top_terms

    p = plan(bm25_top_terms(docs))
    assert "Broadcast" in p
    assert "PythonUDF" not in p and "ArrowEval" not in p


def test_stratum_cap_uses_window_group_limit(spark):
    """The rank-limit pushdown must pre-prune each map partition to its
    local top-k per stratum BEFORE the shuffle (WindowGroupLimit node) —
    the hot-stratum guard."""
    from knowledge_graph_spark.operators.corpus import stratum_cap

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)], "doc_id: long, lang: string"
    )
    p = plan(stratum_cap(df, "lang", "doc_id", k=5))
    assert "WindowGroupLimit" in p
    assert "PythonUDF" not in p


def test_agent_trace_no_python_no_global_window(spark):
    """Trace analytics are native window+agg keyed on conv_id — no Python
    stages and no partitionless window funnel."""
    from knowledge_graph_spark.operators.agent_trace import (
        tool_transitions,
        turn_latency,
    )

    t = spark.createDataFrame(
        [("c", 0, "tool", "x", "search", 1)],
        "conv_id string, turn_idx int, role string, text string, tool string, sec long",
    ).withColumn("ts", F.timestamp_seconds("sec"))
    for q in (tool_transitions(t), turn_latency(t)):
        p = plan(q)
        assert "EvalPython" not in p and "InPandas" not in p
        assert "SinglePartition" not in p


def test_dsir_broadcasts_bucket_model_and_heaps_topk(spark, docs):
    """The bucket model (n_buckets rows) must join broadcast, the top-K
    selection must be TakeOrderedAndProject (per-partition heap — never a
    single-partition global sort), and scoring stays native (no Python)."""
    from pyspark.sql import functions as F

    from knowledge_graph_spark.operators.corpus import dsir_scores

    p = plan(
        dsir_scores(docs, target=F.col("doc_id") % 13 == 4, keep_k=10)
    )
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "PythonUDF" not in p


def test_scc_plan_no_cartesian_no_python(spark):
    """Every SCC round is equi-join + partial-aggregate: no nested-loop /
    cartesian product anywhere in the unrolled plan, and no Python."""
    from knowledge_graph_spark.operators.graphops import scc_fixed_rounds

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "a")], "source string, target string"
    )
    p = plan(scc_fixed_rounds(e, inner_rounds=2, outer_rounds=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "PythonUDF" not in p


def test_global_search_has_no_single_partition_window(spark):
    """Global search packs under the token budget with the two-phase
    running sum: the whole-corpus report table must not funnel through a
    single-task global sort (every row stays in the output, so a top-k
    rewrite cannot save it — the prefix sum itself must distribute)."""
    from knowledge_graph_spark.operators.search import global_search_context

    reports = spark.createDataFrame(
        [("c1", 2.0, "ACME report", "ACME body"), ("c2", 1.0, "B report", "B body")],
        "community string, rank double, summary string, full_content string",
    )
    p = plan(global_search_context("ACME", reports))
    assert "rangepartitioning" in p.lower()
    # only the #partitions-row offset subtree may single-partition
    assert p.count("SinglePartition") <= 1
    assert "BroadcastHashJoin" in p


def test_partition_agreement_aggregates_contingency_no_python(spark):
    """partition_agreement's sums past the node join run over the
    contingency table: the plan has partial (map-side) aggregation, no
    Python, no window, and no cartesian — the 1-row combines at the end
    are the only tiny joins."""
    from knowledge_graph_spark.operators.graphops import partition_agreement

    a = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "y")], "title string, community string"
    )
    b = spark.createDataFrame(
        [("a", "p"), ("b", "p"), ("c", "q")], "title string, component string"
    )
    p = plan(partition_agreement(a, b))
    assert "partial_count" in p or "partial_sum" in p
    assert "PythonUDF" not in p
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_kg_version_diff_single_shuffle_join_no_python(spark):
    """kg_version_diff is ONE co-partitioned full-outer join on the edge
    key: both sides exchange on (source, target) once, the status/delta
    algebra is row-local Column code (no Python, no window, no extra
    shuffle)."""
    from knowledge_graph_spark.operators.temporal import kg_version_diff

    old = spark.createDataFrame(
        [("a", "b", 1.0)], "source string, target string, weight double"
    )
    new = spark.createDataFrame(
        [("a", "b", 2.0)], "source string, target string, weight double"
    )
    p = plan(kg_version_diff(old, new))
    assert "FullOuter" in p or "full_outer" in p.lower()
    assert "PythonUDF" not in p
    assert "Window" not in p
    # one exchange per side of the join, nothing else
    assert p.count("Exchange") <= 2


def test_copurchase_edge_build_pruned_equijoin(spark):
    """The co-purchase graph build is ONE equi-join on l_orderkey with
    the partkey inequality as a join filter — no cartesian product, no
    Python, and the lineitem scans are column-pruned to exactly the two
    join columns (a 16-column table read as 2)."""
    import __spark_entry__ as entry

    p = plan(entry._copurchase_edges(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "PythonUDF" not in p
    assert "l_orderkey" in p and "l_partkey" in p
    # column pruning reached the parquet scan: no non-join lineitem
    # column survives anywhere in the physical plan
    for col in ("l_extendedprice", "l_comment", "l_shipdate", "l_quantity"):
        assert col not in p


def test_coarsen_communities_plan_no_cartesian_no_python(spark):
    """The depth-L hierarchy is matchings + contractions + one composed
    map advance per level — all hash equi-joins and partial aggregates:
    no nested-loop/cartesian join, no Python anywhere in the plan."""
    from knowledge_graph_spark.operators.graphops import coarsen_communities

    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "title string")
    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)],
        "source string, target string, weight double",
    )
    p = plan(coarsen_communities(nodes, e, levels=2, rounds=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "PythonUDF" not in p


def test_build_graph_places_transcripts_once(spark):
    """One exchange before the chunk UDF: the conv_id repartition of the
    transcripts at shuffle.partitions width.  The assembly groupBy reuses
    it, and AQE does not coalesce it, so the UDF runs that many tasks."""
    from knowledge_graph_spark.pipeline import PipelineConfig, build_graph

    transcripts = spark.createDataFrame(
        [("c1", 0, "user", "ACME ships"), ("c2", 0, "user", "GLOBEX buys")],
        "conv_id string, turn_idx int, role string, text string",
    )
    stages = build_graph(transcripts, PipelineConfig(chunk_size=16, chunk_overlap=0, tokenizer="ws"))
    exchanges = [ln for ln in plan(stages["text_units"]).splitlines() if "Exchange " in ln]
    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert len(exchanges) == 1, exchanges
    assert "REPARTITION_BY_NUM" in exchanges[0]
    assert re.search(rf"Exchange hashpartitioning\(conv_id#\d+, {width}\)", exchanges[0])
