"""GraphML source — ingest a reference graph checkpoint as DataFrames.

The reference checkpoints its working graph to GraphML between stages
(utils/graph.py save/load, SURVEY.md §2.1 S5) and ships a frozen run in
``graph_save/``.  In this engine the node/edge *tables* are the
checkpoint (checkpoint.py), so GraphML is not on the hot path — this
reader exists to (a) replay the reference's own published artifacts
through the deterministic tail (tests/test_golden_replay.py) and (b)
migrate an existing reference deployment's checkpoints into the table
layout.

Scale shape: checkpoint GraphML files are driver-sized by construction —
the reference materializes the whole graph in a single networkx object
before writing, so any file this reader will ever see fits on one
machine.  The parse therefore runs driver-side (stdlib ElementTree,
no external deps) and the rows are parallelized into DataFrames.  If a
multi-GB GraphML ever appears, split it per-<node>/<edge> element with a
streaming SAX pass feeding mapPartitions — but a graph that size should
never round-trip through XML at all; that is what the tables are for.

Typed attributes: GraphML declares per-attribute types in <key>
elements (attr.type long/double/string...).  Those declarations drive
the output schema, so `degree` comes back as a long and `weight` as a
double without caller-side casts.
"""

from __future__ import annotations

import math
import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_NS = {"g": "http://graphml.graphdrawing.org/xmlns"}

_TYPE_MAP = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
}

_CASTS = {
    "int": int,
    "long": int,
    "float": float,
    "double": float,
    "boolean": lambda s: s.strip().lower() == "true",
    "string": lambda s: s,
}


def _keys_for(root, domain: str) -> list[tuple[str, str, str]]:
    """[(key_id, attr_name, attr_type)] declared for `domain` (node|edge),
    in document order (stable column order across reads)."""
    out = []
    for k in root.findall("g:key", _NS):
        if k.get("for") == domain:
            out.append((k.get("id"), k.get("attr.name"), k.get("attr.type") or "string"))
    return out


def _data_map(el) -> dict[str, str]:
    return {d.get("key"): (d.text or "") for d in el.findall("g:data", _NS)}


def read_graphml(
    spark: SparkSession, path: str, node_id_col: str = "title"
) -> tuple[DataFrame, DataFrame]:
    """Parse a GraphML file → (nodes, edges) DataFrames.

    nodes: (`node_id_col`, *declared node attrs); edges:
    (source, target, *declared edge attrs).  Attribute columns are typed
    from the <key> declarations; absent <data> entries are NULL (GraphML
    semantics: attribute not set on this element).
    """
    root = ET.parse(path).getroot()
    graph = root.find("g:graph", _NS)
    nkeys = _keys_for(root, "node")
    ekeys = _keys_for(root, "edge")

    def _schema(lead: list[tuple[str, T.DataType]], keys) -> T.StructType:
        fields = [T.StructField(n, t, False) for n, t in lead]
        for _kid, name, atype in keys:
            fields.append(
                T.StructField(name, _TYPE_MAP.get(atype, T.StringType()), True)
            )
        return T.StructType(fields)

    def _row(lead_vals: list, data: dict[str, str], keys) -> tuple:
        vals = list(lead_vals)
        for kid, _name, atype in keys:
            raw = data.get(kid)
            vals.append(None if raw is None else _CASTS.get(atype, str)(raw))
        return tuple(vals)

    node_rows = [
        _row([n.get("id")], _data_map(n), nkeys)
        for n in graph.findall("g:node", _NS)
    ]
    edge_rows = [
        _row([e.get("source"), e.get("target")], _data_map(e), ekeys)
        for e in graph.findall("g:edge", _NS)
    ]
    nodes = spark.createDataFrame(
        node_rows, _schema([(node_id_col, T.StringType())], nkeys)
    )
    edges = spark.createDataFrame(
        edge_rows,
        _schema([("source", T.StringType()), ("target", T.StringType())], ekeys),
    )
    return nodes, edges


# Characters outside the XML 1.0 Char production (everything in C0
# except \t \n \r, plus surrogates / U+FFFE / U+FFFF) make a file
# unparseable by ANY XML reader, including read_graphml — stripped at
# write time so the documented lossless round-trip holds over the
# XML-1.0-representable subset (nx's writer has the same constraint).
# Stripping may make two ids or two attribute names equal; the writer
# raises then instead of merging them (``_unique_safe``).
_XML_INVALID = re.compile(
    "[\x00-\x08\x0b\x0c\x0e-\x1f\ud800-\udfff\ufffe\uffff]"
)


def _xml_safe(s: str) -> str:
    return _XML_INVALID.sub("", s)


def _unique_safe(seen: dict[str, str], raw: str, what: str) -> str:
    """``_xml_safe(raw)``, refusing two distinct originals that sanitise
    to the same string: written, they would merge into one id or one
    attribute name.  ``seen`` maps sanitised → original."""
    safe = _xml_safe(raw)
    first = seen.setdefault(safe, raw)
    if first != raw:
        raise ValueError(
            f"GraphML {what}s {first!r} and {raw!r} are equal once the "
            "characters XML 1.0 cannot hold are removed"
        )
    return safe


_XML_TYPE = {
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "string": "string",
}


def write_graphml(
    nodes: DataFrame,
    edges: DataFrame,
    path: str,
    node_id_col: str = "title",
    edgedefault: str = "undirected",
) -> None:
    """Write (nodes, edges) DataFrames as a GraphML file in the
    reference checkpoint's structure (<key> declarations from the
    DataFrame dtypes, one <data> per non-null attribute) — the export
    half of the migration seam: a graph built here can be handed back to
    reference tooling (nx.read_graphml) or round-tripped through
    ``read_graphml`` losslessly (tests/test_golden_replay.py).

    Driver-side by design, like the reader: the reference only ever
    produces driver-sized GraphML (the whole graph transits one networkx
    object), and anything bigger belongs in the node/edge tables.  The
    collect here is therefore a documented bound, not a scale path.
    """
    from xml.sax.saxutils import escape, quoteattr

    nattrs = [(c, t) for c, t in nodes.dtypes if c != node_id_col]
    eattrs = [(c, t) for c, t in edges.dtypes if c not in ("source", "target")]
    lines = [
        "<?xml version='1.0' encoding='utf-8'?>",
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">',
    ]
    key_ids: dict[tuple[str, str], str] = {}
    for domain, attrs in (("node", nattrs), ("edge", eattrs)):
        names: dict[str, str] = {}
        for name, dtype in attrs:
            kid = f"d{len(key_ids)}"
            key_ids[(domain, name)] = kid
            xt = _XML_TYPE.get(dtype, "string")
            safe = _unique_safe(names, name, f"{domain} attribute name")
            lines.append(
                f'<key id="{kid}" for="{domain}" attr.name={quoteattr(safe)} '
                f'attr.type="{xt}"/>'
            )
    lines.append(f'<graph edgedefault="{edgedefault}">')

    def _fmt(v) -> str:
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            if not math.isfinite(v):
                return str(v)  # nan / inf / -inf, matching str(float)
            if v == int(v):
                return f"{v:.1f}"  # nx float rendering: 8.0, not 8
        return str(v)

    # node ids and edge endpoints share one namespace: an endpoint that
    # sanitises onto another node's id would re-point the edge
    ids: dict[str, str] = {}
    for r in nodes.collect():
        d = r.asDict()
        lines.append(f"<node id={quoteattr(_unique_safe(ids, str(d[node_id_col]), 'id'))}>")
        for name, _t in nattrs:
            if d[name] is not None:
                kid = key_ids[("node", name)]
                lines.append(
                    f'  <data key="{kid}">{escape(_xml_safe(_fmt(d[name])))}</data>'
                )
        lines.append("</node>")
    for r in edges.collect():
        d = r.asDict()
        lines.append(
            f"<edge source={quoteattr(_unique_safe(ids, str(d['source']), 'id'))} "
            f"target={quoteattr(_unique_safe(ids, str(d['target']), 'id'))}>"
        )
        for name, _t in eattrs:
            if d[name] is not None:
                kid = key_ids[("edge", name)]
                lines.append(
                    f'  <data key="{kid}">{escape(_xml_safe(_fmt(d[name])))}</data>'
                )
        lines.append("</edge>")
    lines.append("</graph></graphml>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
