"""Spans around the public calls into each layer, with Spark counters.

The benchmark wraps, from its own files, the calls through which the two
entry points reach the layers:

- ``StageRunner.run``: one span per stage, on the layer of the operator
  module that computes it (``STAGE_LAYER``).  After the stage's table
  write returns, a ``readback`` span on the ``checkpoint`` layer covers
  the rest of the call: the read back, count, partition profile,
  fingerprint and manifest write.
- ``TableIO.write`` and ``TableIO.write_bucketed``: one span on the
  ``io`` layer.
- ``fold_insert_batch``, ``fold_delete_batch`` and ``_publish`` of
  ``streaming.retract_stream``, which ``run_kg_cdc`` resolves through
  module globals.  Inside a fold, each table write is attributed to the
  layer that produced the table (``cdc_table_layer``).

Spark evaluates lazily, so the jobs that run under a table write compute
the producing layer's plan.  ``io`` spans are therefore an overlay: their
time and counters count for the enclosing layer span, and the ``io``
metrics repeat them inclusively.  Every other layer's ``wall_s`` is the
self time of its spans (duration minus child spans), so those layers
partition the traced time without overlap.

Each span sets its own Spark job group for the jobs submitted while it is
the innermost span, and at its end reads those jobs' stage counters from
the status store, which is kept even with ``spark.ui.enabled=false``.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "session",
    "assemble",
    "chunk",
    "extract",
    "parse",
    "graphops",
    "summarize",
    "community",
    "reports",
    "claims",
    "agent_trace",
    "checkpoint",
    "io",
    "merge",
    "retract_stream",
)
LAYER_UNITS = {
    "wall_s": "s",
    "cpu_s": "s",
    "jobs": "count",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "rows_out": "count",
}
EXTRA_UNITS = {
    "checkpoint.readback_s": "s",
    "io.write_s": "s",
    "retract_stream.publish_s": "s",
    "retract_stream.insert_fold_s": "s",
    "retract_stream.delete_fold_s": "s",
    "trace.job_s": "s",
    "trace.span_coverage": "ratio",
}

STAGE_LAYER = {
    "conv_docs": "assemble",
    "text_units": "chunk",
    "raw_records": "extract",
    "nodes": "parse",
    "edges": "parse",
    "degrees": "graphops",
    "nodes_final": "summarize",
    "edges_final": "summarize",
    "communities": "community",
    "communities_leveled": "community",
    "community_hierarchy": "reports",
    "community_reports": "reports",
    "claims": "claims",
    "tool_transitions": "agent_trace",
    "turn_latency": "agent_trace",
}

JOB_GROUP = "spark.jobGroup.id"


def cdc_table_layer(table: str, fold: str) -> str:
    """Layer whose plan a CDC fold's table write computes."""
    kind, _, version = table.partition("__")
    if kind == "records":
        # an insert's new segment runs assemble → chunk → extract on the
        # batch; a delete's compacted segment is the retraction anti-join
        return "retract_stream" if version.endswith("c") else "extract"
    if kind in ("nodes", "edges"):
        return "merge" if fold.startswith("fold_insert") else "parse"
    if kind == "claims":
        return "claims"
    if kind in ("components", "communities"):
        return "community"
    if kind in ("salience", "changelog"):
        return "graphops"
    return "retract_stream"


class Tracer:
    """In-memory span recorder.  Spans form one stack: the CDC folds run
    on the streaming callback thread while the main thread waits, so at
    most one thread opens spans at a time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = 0
        gw, jvm = self.sc._gateway, self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = gw.new_array(jvm.double, 0)
        self._quantiles = gw.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._jvm = jvm

    def top(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def enclosing(self, prefix: str) -> dict | None:
        return next((s for s in reversed(self._stack) if s["name"].startswith(prefix)), None)

    def begin(self, name: str, layer: str | None) -> dict:
        self._ids += 1
        rec = {
            "id": self._ids,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "group": f"perfbench-span-{self._ids}",
            "prev_group": self.sc.getLocalProperty(JOB_GROUP),
        }
        self.sc.setLocalProperty(JOB_GROUP, rec["group"])
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        return rec

    def end(self, rec: dict) -> None:
        """End ``rec`` and every span still open above it."""
        while self._stack:
            top = self._stack.pop()
            top["end"] = time.perf_counter()
            self.sc.setLocalProperty(JOB_GROUP, top.pop("prev_group"))
            top.update(self._counters(top["group"]))
            self.spans.append(top)
            if top is rec:
                return

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """Add a span timed before the tracer existed; no Spark job ran in it."""
        self._ids += 1
        self.spans.append(
            {
                "id": self._ids, "parent": None, "name": name, "layer": layer,
                "group": None, "start": start, "end": end, "jobs": 0, "cpu_s": 0.0,
                "shuffle_mb": 0.0, "spill_mb": 0.0, "rows_out": 0,
                "skew_weighted": 0.0, "skew_weight": 0.0,
            }
        )

    @contextmanager
    def span(self, name: str, layer: str | None):
        rec = self.begin(name, layer)
        try:
            yield rec
        finally:
            self.end(rec)

    def _counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict(jobs=len(jobs), cpu_s=0.0, shuffle_mb=0.0, spill_mb=0.0, rows_out=0)
        skew_weighted = skew_weight = 0.0
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for i in range(attempts.length()):
                d = attempts.apply(i)
                if str(d.status()) == "SKIPPED":
                    continue
                out["cpu_s"] += d.executorCpuTime() / 1e9
                out["shuffle_mb"] += (d.shuffleReadBytes() + d.shuffleWriteBytes()) / 1e6
                out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 1e6
                out["rows_out"] += d.outputRecords()
                if d.numCompleteTasks() < 2:
                    continue
                summary = self._store.taskSummary(sid, d.attemptId(), self._quantiles)
                if not summary.isDefined():
                    continue
                run = summary.get().executorRunTime()
                median, peak = run.apply(0), run.apply(1)
                if median > 0:
                    weight = float(d.executorRunTime())
                    skew_weighted += weight * peak / median
                    skew_weight += weight
        out["skew_weighted"] = skew_weighted
        out["skew_weight"] = skew_weight
        return out


def install(tracer: Tracer | None, folds: dict[str, list[float]], marks: dict) -> list:
    """Wrap the entry points' layer calls.  Always times each CDC fold
    into ``folds`` and marks the end of the insert drain in ``marks``;
    with a tracer, also records spans.  Returns the patches, for
    ``uninstall``."""
    from knowledge_graph_spark.checkpoint import StageRunner
    from knowledge_graph_spark.io import TableIO
    from knowledge_graph_spark.streaming import retract_stream

    patches = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        patches.append((owner, attr, orig))

    def fold(kind):
        def make(orig):
            def wrapper(*args, **kwargs):
                t0 = time.perf_counter()
                if tracer is None:
                    orig(*args, **kwargs)
                else:
                    epoch = args[3] if kind == "insert" else args[2]
                    with tracer.span(f"fold_{kind}:{epoch}", "retract_stream"):
                        orig(*args, **kwargs)
                folds[kind].append(time.perf_counter() - t0)

            return wrapper

        return make

    def stream_deletes(orig):
        def wrapper(*args, **kwargs):
            marks["insert_drain_end"] = time.perf_counter()
            return orig(*args, **kwargs)

        return wrapper

    patch(retract_stream, "fold_insert_batch", fold("insert"))
    patch(retract_stream, "fold_delete_batch", fold("delete"))
    patch(retract_stream, "stream_deletes", stream_deletes)
    if tracer is None:
        return patches

    def stage(orig):
        def run(self, name, *args, **kwargs):
            rec = tracer.begin(f"stage:{name}", STAGE_LAYER.get(name, "checkpoint"))
            try:
                return orig(self, name, *args, **kwargs)
            finally:
                tracer.end(rec)

        return run

    def write(orig):
        def wrapper(self, df, name, *args, **kwargs):
            stage_rec = tracer.top()
            if stage_rec is None or not stage_rec["name"].startswith("stage:"):
                stage_rec = None
            fold_rec = tracer.enclosing("fold_")
            table = None
            if fold_rec is not None:
                table = tracer.begin(f"table:{name}", cdc_table_layer(name, fold_rec["name"]))
            with tracer.span(f"write:{name}", "io"):
                orig(self, df, name, *args, **kwargs)
            if table is not None:
                tracer.end(table)
            if stage_rec is not None:
                tracer.begin(f"readback:{stage_rec['name'][6:]}", "checkpoint")

        return wrapper

    def publish(orig):
        def wrapper(*args, **kwargs):
            with tracer.span("publish", "retract_stream"):
                return orig(*args, **kwargs)

        return wrapper

    patch(StageRunner, "run", stage)
    patch(TableIO, "write", write)
    patch(TableIO, "write_bucketed", write)
    patch(retract_stream, "_publish", publish)
    return patches


def uninstall(patches: list) -> None:
    for owner, attr, orig in reversed(patches):
        setattr(owner, attr, orig)


def layer_metrics(spans: list[dict], folds: dict[str, list[float]]) -> dict[str, float]:
    """Per-layer metrics over a run's spans (see the module docstring for
    how ``io`` overlays the other layers)."""
    by_id = {s["id"]: s for s in spans}
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]

    def owner(s: dict) -> str | None:
        """The layer an io span's work belongs to: its nearest non-io
        ancestor's (None under an entry-point span)."""
        while s["layer"] == "io" and s["parent"] is not None:
            s = by_id[s["parent"]]
        return None if s["layer"] == "io" else s["layer"]

    acc = {layer: defaultdict(float) for layer in LAYERS}
    extra = defaultdict(float)

    def add(layer: str, s: dict, wall: float) -> None:
        a = acc[layer]
        a["wall_s"] += wall
        for key in ("cpu_s", "jobs", "shuffle_mb", "spill_mb", "rows_out"):
            a[key] += s[key]
        a["skew_weighted"] += s["skew_weighted"]
        a["skew_weight"] += s["skew_weight"]

    for s in spans:
        dur = s["end"] - s["start"]
        if s["layer"] is None:
            continue
        layer = owner(s)
        if layer is not None:
            add(layer, s, dur - child_time[s["id"]])
        if s["layer"] == "io":
            add("io", s, dur)
            extra["io.write_s"] += dur
        elif s["name"].startswith("readback:"):
            extra["checkpoint.readback_s"] += dur
        elif s["name"] == "publish":
            extra["retract_stream.publish_s"] += dur

    out: dict[str, float] = {}
    for layer in LAYERS:
        a = acc[layer]
        for key in LAYER_UNITS:
            if key == "task_skew":
                out[f"{layer}.task_skew"] = (
                    a["skew_weighted"] / a["skew_weight"] if a["skew_weight"] else 0.0
                )
            else:
                out[f"{layer}.{key}"] = a[key]
    roots = [s for s in spans if s["parent"] is None and s["layer"] is None]
    root_time = sum(s["end"] - s["start"] for s in roots)
    covered = sum(
        s["end"] - s["start"]
        for s in spans
        if s["parent"] is not None and by_id[s["parent"]]["layer"] is None
    )
    out.update(
        {
            "checkpoint.readback_s": extra["checkpoint.readback_s"],
            "io.write_s": extra["io.write_s"],
            "retract_stream.publish_s": extra["retract_stream.publish_s"],
            "retract_stream.insert_fold_s": _median(folds["insert"]),
            "retract_stream.delete_fold_s": _median(folds["delete"]),
            "trace.job_s": root_time,
            "trace.span_coverage": covered / root_time if root_time else 0.0,
        }
    )
    return out


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
