"""Driver-contract test: __spark_entry__ queries vs their DuckDB oracles.

This automates the driver's correctness gate locally (sf0.001 subset — the
full sweep is tools/check_entry.py): row count, column set, and
order-insensitive value equality per query.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod
from knowledge_graph_spark.synth import TABLES

SF_DIR = "/root/testdata/sf0.001"
# Fast representative subset — every stage family: SQL derivation, window
# assembly, chunk UDF, parse/merge, degree joins, recursive-CTE CC,
# claims chain, alias canonicalization, dedup resolution, embeddings.
CHECK = [
    "conv_docs",
    "text_units",
    "sentence_units",
    "qa_turns",
    "last_user_turns",
    "conv_context",
    "cc_dist",
    "lpa_dist",
    "cc_warm",
    "lpa_warm",
    "pr_warm",
    "cluster_drift",
    "partition_agreement",
    "kg_diff",
    "copurchase_rank",
    "kg_nodes",
    "kg_edges",
    "edge_rank",
    "connected_components",
    "claims",
    "canonical_nodes",
    "canonicalization",
    "community_reports",
    "communities_lpa",
    "community_hierarchy",
    "community_hierarchy3",
    "text_unit_links",
    "text_profile",
    "sessions",
    "dedup_clusters",
    "minhash_dedup",
    "emb_topk",
    "emb_neardup_lsh",
    "hash_split",
    "dsir_select",
    "filter_audit",
    "bpe_merges",
    "tool_scc",
    "leakfree_split",
    "hyperball",
    "pagerank_w",
    "contrastive_pairs",
    "ccnet_buckets",
    "kmv_overlap",
    "diverse_keep",
    "length_stats",
    "bfs_hops",
    "kmeans_cells",
    "top_terms",
    "hll_tokens",
    "cms_counts",
    "bloom_words",
    "decontam_bloom",
    "stratum_cap",
    "hybrid_entities",
    "length_hist",
    "hll_lang",
    "degree_hist",
    # fifth-session families: agent trace, widest paths, HITS
    "tool_transitions",
    "turn_latency",
    "widest_paths",
    "hits",
    # round-3 additions
    "katz",
    "betweenness",
    "kg_asof",
    "type_mixing",
    # late round-3 waves: every remaining gate family
    "k_truss",
    "typed_lpa",
    "max_matching",
    "topic_segments",
    "negative_samples",
    "jp_coloring",
    "kg_retract",
    # wave 11: multilevel coarsening
    "coarsen",
    "coarsen_l2",
    # wave 12/13: Borůvka MSF family, peeling, ranking eval
    "msf",
    "densest",
    "knn_graph",
    "lp_ranking",
    # wave 14: SSSP, C4 census
    "sssp",
    "four_cycles",
    # wave 15: double-sweep diameter, 1-WL colors
    "diameter_lb",
    "wl_colors",
    # wave 16: TextRank turn salience, source rollup
    "textrank",
    "source_profile",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", CHECK)
def test_query_matches_oracle(spark, duck, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.execute(entry_mod.oracle_sql()[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    a, b = _norm(sdf), _norm(odf)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {"source", "target", "weight", "rank"} <= set(df.columns)


def test_every_query_has_oracle_or_is_declared_iterative():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    # every gate is hash-checked — the LPA ops use the unrolled-round oracle
    assert set(qs) == set(os_)


def test_kg_asof_is_strict_subset(spark):
    """The as-of snapshot must be built from a STRICT subset of turns
    (the midpoint cutoff keeps roughly half) and its total edge weight
    must be strictly below the full KG's — guards against the filter
    silently keeping everything."""
    from pyspark.sql import functions as F

    full = entry_mod.queries()["kg_edges"](spark, SF_DIR)
    asof = entry_mod.queries()["kg_asof"](spark, SF_DIR)
    w_full = full.agg(F.sum("weight")).first()[0]
    w_asof = asof.agg(F.sum("weight")).first()[0]
    assert 0 < w_asof < w_full


def test_kg_retract_is_strict_subset(spark):
    """Retraction must actually remove contributions (the fingerprint
    selects a non-empty conversation set) while keeping a non-empty
    graph — guards against a vacuous delete set."""
    from pyspark.sql import functions as F

    full = entry_mod.queries()["kg_edges"](spark, SF_DIR)
    ret = entry_mod.queries()["kg_retract"](spark, SF_DIR)
    w_full = full.agg(F.sum("weight")).first()[0]
    w_ret = ret.agg(F.sum("weight")).first()[0]
    assert 0 < w_ret < w_full


def test_namespaced_prelude_covers_every_cte():
    """_namespaced_prelude renames by the explicit _PRELUDE_CTE_NAMES
    list; a CTE added to ORACLE_PRELUDE but not the list would silently
    collide with the un-prefixed prelude inside the kg_diff oracle.
    Parse the prelude's actual CTE heads and require exact agreement."""
    import re

    import __spark_entry__ as entry

    names = set(
        re.findall(
            r"(?m)^\s*,?\s*([A-Za-z_][A-Za-z0-9_]*)\s*(?:\([A-Za-z0-9_,\s]*\))?"
            r"\s+AS\s+(?:MATERIALIZED\s+)?\(",
            entry.ORACLE_PRELUDE,
        )
    )
    assert names == set(entry._PRELUDE_CTE_NAMES)


def _module_bindings(stmt: ast.stmt) -> set[str]:
    """Names a module-level statement defines."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
    return set()


def _loads(node: ast.AST) -> set[str]:
    return {
        n.id
        for n in ast.walk(node)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }


def test_entry_module_has_no_orphans():
    """Every module-level function, class and assigned name in
    __spark_entry__.py, other than the entry points ``entry``,
    ``queries`` and ``oracle_sql``, is read somewhere else in the
    module.  Deleting a gate must take its query, oracle helpers and
    constants with it; a leftover fails here."""
    tree = ast.parse(Path(entry_mod.__file__).read_text())
    defined: set[str] = set()
    loaded: set[str] = set()
    for stmt in tree.body:
        binds = _module_bindings(stmt)
        defined |= binds
        # a name read only by its own definition (recursion, X = X + ...)
        # is still an orphan
        loaded |= _loads(stmt) - binds
    assert defined - loaded - {"entry", "queries", "oracle_sql"} == set()


REPO = Path(__file__).resolve().parents[1]
# Package files and names the orphan test keeps although nothing reads them.
ORPHAN_EXEMPT_FILES = {
    # declares every table's schema; whether StageRunner enforces it or
    # it goes is an open ROADMAP decision
    "knowledge_graph_spark/schemas.py",
}
ORPHAN_EXEMPT_NAMES = {
    # the seam an LLM extraction backend implements
    ("knowledge_graph_spark/operators/extract.py", "LLMBackend"),
}


def test_package_has_no_orphans():
    """Every module-level function, class and assigned name in the
    package is read somewhere in the repo (the package, the jobs, the
    tools, the bench, the gates or the tests), and every module-level
    import is read by its own module.  A kernel deleted with its gate
    must not leave its helpers, constants or imports behind.

    Names match by spelling alone, which over-approximates what is
    read: a read is a Name load, an attribute name or a name imported
    from another module, in any statement other than the definition."""
    sources = sorted(
        p
        for d in ("knowledge_graph_spark", "jobs", "tools", "perfbench", "tests")
        for p in (REPO / d).rglob("*.py")
    ) + [REPO / "bench.py", REPO / "__spark_entry__.py"]
    reads: list[tuple[ast.stmt, set[str]]] = []
    defs: list[tuple[str, ast.stmt]] = []
    orphans: list[str] = []
    for path in sources:
        rel = path.relative_to(REPO).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        for stmt in tree.body:
            names = _loads(stmt)
            for n in ast.walk(stmt):
                if isinstance(n, ast.Attribute):
                    names.add(n.attr)
                elif isinstance(n, ast.ImportFrom):
                    names |= {a.name for a in n.names}
            reads.append((stmt, names))
        if not rel.startswith("knowledge_graph_spark/") or rel in ORPHAN_EXEMPT_FILES:
            continue
        module_loads = _loads(tree)
        for stmt in tree.body:
            defs.append((rel, stmt))
            if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                continue
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for a in stmt.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in module_loads:
                        orphans.append(f"{rel}: import {bound}")
    for rel, stmt in defs:
        for name in sorted(_module_bindings(stmt)):
            if name.startswith("__") and name.endswith("__"):
                continue
            if (rel, name) in ORPHAN_EXEMPT_NAMES:
                continue
            if not any(name in names for s, names in reads if s is not stmt):
                orphans.append(f"{rel}: {name}")
    assert orphans == []
