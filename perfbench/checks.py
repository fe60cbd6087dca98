"""Untimed output checks, one per workload.

Both checks compare the program's tables with a sequential build computed
here from the generated turns alone: conversations assembled and split
into whitespace-token windows as the chunker specifies, the mention rule
applied per chunk, and the records merged by the vendored sequential
oracle (``knowledge_graph_spark.oracle``); claims are merged per subject.
Tables are read with pyarrow, so a check runs no Spark job.

- ``check_job``: the batch job's stage tables.
- ``check_cdc``: the CDC sink's retraction contract: after the delete
  fold, the committed nodes, edges and claims equal a from-scratch build
  over the retained transcripts.

Each check returns a list of problems; an empty list means the outputs
are correct.
"""

from __future__ import annotations

import hashlib
import json

import pyarrow.parquet as pq

import inputs

TUPLE_DELIM = "<|>"
RECORD_DELIM = "##"
COMPLETION = "<|COMPLETE|>"
# entity type by name prefix; ITEM_ names fall through to ORGANIZATION
TYPES = {"USER_": "PERSON", "AGENT_": "PERSON", "CITY_": "GEO", "EVT_": "EVENT"}


def _type(name: str) -> str:
    return next((t for p, t in TYPES.items() if name.startswith(p)), "ORGANIZATION")


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _records(chunk: str) -> str:
    """One chunk's extraction output: an entity record per distinct
    mention and a co-occurrence relationship per pair, in first-appearance
    order."""
    names = list(dict.fromkeys(inputs.MENTION_RE.findall(chunk)))
    recs = [
        f'("entity"{TUPLE_DELIM}{n}{TUPLE_DELIM}{_type(n)}{TUPLE_DELIM}MENTION OF {n})'
        for n in names
    ]
    recs += [
        f'("relationship"{TUPLE_DELIM}{a}{TUPLE_DELIM}{b}{TUPLE_DELIM}{a} -> {b}{TUPLE_DELIM}1)'
        for i, a in enumerate(names)
        for b in names[i + 1 :]
    ]
    return RECORD_DELIM.join([*recs, COMPLETION])


def expected_graph(transcripts: inputs.Transcripts, size: int, overlap: int):
    """Sequential build → (node rows by title, edge rows by (source, target))."""
    from knowledge_graph_spark import oracle

    turns: dict[str, list] = {}
    cols = transcripts.columns
    for conv, idx, role, text in zip(cols["conv_id"], cols["turn_idx"], cols["role"], cols["text"]):
        turns.setdefault(conv, []).append((idx, f"{role}: {text}"))
    units = []
    for conv in sorted(turns):
        tokens = "\n".join(line for _, line in sorted(turns[conv])).split()
        doc_id = _sha256(conv)
        for idx, start in enumerate(range(0, len(tokens), size - overlap)):
            chunk = " ".join(tokens[start : start + size])
            units.append((_sha256(f"{doc_id}:{idx}"), _records(chunk)))
    o_nodes, o_edges = oracle.parse_records_oracle(units)
    nodes = {r["title"]: r for r in oracle.oracle_node_rows(o_nodes)}
    edges = {(r["source"], r["target"]): r for r in oracle.oracle_edge_rows(o_edges)}
    return nodes, edges


def _rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def _diff(what: str, got: dict, want: dict, problems: list[str]) -> None:
    if got == want:
        return
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])[:3]
    problems.append(
        f"{what}: {len(got)} rows vs {len(want)} expected; "
        f"missing {missing}, unexpected {extra}, differing {wrong}"
    )


def _check_graph(tables: dict[str, str], transcripts, size, overlap, problems):
    """Compare the nodes, edges and claims tables at ``tables`` with the
    sequential build; returns the expected nodes and edges."""
    want_nodes, want_edges = expected_graph(transcripts, size, overlap)
    got_nodes = {
        r["title"]: {k: r[k] for k in ("title", "type", "description")}
        | {"source_id": sorted(r["source_id"])}
        for r in _rows(tables["nodes"])
    }
    got_edges = {
        (r["source"], r["target"]): {k: r[k] for k in ("source", "target", "weight", "description")}
        | {"text_unit_ids": sorted(r["text_unit_ids"])}
        for r in _rows(tables["edges"])
    }
    _diff("nodes", got_nodes, want_nodes, problems)
    _diff("edges", got_edges, want_edges, problems)
    got_claims = {
        r["subject_id"]: {k: r[k] for k in ("object_id", "claim_type", "n_claims", "doc_ids")}
        for r in _rows(tables["claims"])
    }
    _diff("claims", got_claims, inputs.expected_claims(transcripts), problems)
    return want_nodes, want_edges


def check_job(out: str, transcripts: inputs.Transcripts, size: int, overlap: int) -> list[str]:
    problems: list[str] = []
    tables = {name: f"{out}/{name}" for name in ("nodes", "edges", "claims")}
    nodes, edges = _check_graph(tables, transcripts, size, overlap, problems)
    if {r["title"] for r in _rows(f"{out}/nodes_final")} != set(nodes):
        problems.append("nodes_final: title set differs from nodes")
    if len(_rows(f"{out}/edges_final")) != len(edges):
        problems.append("edges_final: row count differs from edges")
    if sorted(r["title"] for r in _rows(f"{out}/communities")) != sorted(nodes):
        problems.append("communities: do not cover every node once")
    if not _rows(f"{out}/community_reports"):
        problems.append("community_reports: empty")
    if len(_rows(f"{out}/turn_latency")) != len(transcripts.conv_ids()):
        problems.append("turn_latency: not one row per conversation")
    return problems


def check_cdc(io, retained: inputs.Transcripts, size: int, overlap: int) -> list[str]:
    from knowledge_graph_spark.streaming.retract_stream import CDC_MARKER

    state = json.loads(io.read_text(CDC_MARKER) or "null")
    if state is None:
        return ["no committed CDC state"]
    tables = {
        name: io.path(f"{name}__v{state['version']}") for name in ("nodes", "edges", "claims")
    }
    problems: list[str] = []
    _check_graph(tables, retained, size, overlap, problems)
    return problems
