"""Layer spans recorded from the benchmark side, folded with Spark's
event log into per-layer metrics.

The program is not modified. ``Tracer.install`` replaces the public
entry points of each layer module (``LAYERS``) with a wrapper that
records a span (layer, name, start, end, parent) and tags every Spark job
launched inside it with a job group naming the span. After the session
stops, ``fold`` reads the event log and charges each job's tasks to the
span whose group it carries.

Lazy results: most operators return an unevaluated DataFrame, and their
work runs when the caller writes the result. When a call made directly
from a workload step or a checkpoint stage returns a DataFrame or Column,
the tracer opens a *deferred* span for the callee's layer that lasts until
the caller's next traced call or the end of the caller, so the jobs that
evaluate the result are charged to the layer that built it.

Python rows: a ``mapInPandas`` planned inside a layer's span runs its
function wrapped so that the Python worker counts the rows it receives
and returns, into accumulators per layer (``Tracer.python_rows``).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# layer -> (module, public functions); None = every public function
# defined in the module except the DuckDB oracle builders
LAYERS: dict[str, tuple[str, list[str] | None]] = {
    "knn": ("butterfly_osm_spark.operators.knn", ["knn_join", "adaptive_res"]),
    "pip": ("butterfly_osm_spark.operators.pip", ["pip_join", "polygon_cover_cells"]),
    "tiles": ("butterfly_osm_spark.operators.tiles", None),
    "cells": ("butterfly_osm_spark.cells", ["cell_col", "parent_col", "neighbor_col", "with_hilbert"]),
    "raster": ("butterfly_osm_spark.operators.raster", ["stamp_segments", "trace_contours"]),
    "dedup": ("butterfly_osm_spark.operators.dedup", ["minhash_lsh_pairs"]),
    "ann": ("butterfly_osm_spark.operators.ann", ["cosine_topk_bruteforce"]),
    "extract": ("butterfly_osm_spark.operators.extract", ["build_edges"]),
}
LAYER_NAMES = [*LAYERS, "checkpoint"]
# spans whose lazy results are evaluated by themselves (workload steps,
# checkpoint stages) rather than by an enclosing operator
_SINKING = (None, "checkpoint")

PYTHON_GROUP_OPS = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")


class Span:
    __slots__ = ("id", "layer", "name", "parent", "start", "end", "pass_idx")

    def __init__(self, sid: str, layer: str | None, name: str, parent: str | None, pass_idx: int):
        self.id, self.layer, self.name, self.parent, self.pass_idx = sid, layer, name, parent, pass_idx
        self.start = time.time()
        self.end: float | None = None


class _Frame:
    __slots__ = ("span", "deferred")

    def __init__(self, span: Span):
        self.span = span
        self.deferred: Span | None = None

    def group(self) -> str:
        return (self.deferred or self.span).id


class Tracer:
    """Span recorder. Created disabled; ``install`` patches the package
    once, after which ``enabled`` switches recording on and off."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self.gather_widths: list[int] = []
        # layer -> (rows sent to, rows returned from) its mapInPandas functions
        self.python_rows: dict[str, tuple] = {}
        self._stack: list[_Frame] = []
        self._pass = -1

    # -- spans --------------------------------------------------------------

    def _new_span(self, layer, name, parent) -> Span:
        s = Span(f"perfbench-{len(self.spans)}", layer, name, parent, self._pass)
        self.spans.append(s)
        return s

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def _close_deferred(self, frame: _Frame) -> None:
        if frame.deferred is not None:
            frame.deferred.end = time.time()
            frame.deferred = None

    @contextmanager
    def step(self, name: str, pass_idx: int):
        """Root span of one workload step (an operator call and its sink)."""
        if not self.enabled:
            yield
            return
        self._pass = pass_idx
        frame = _Frame(self._new_span(None, name, None))
        self._stack.append(frame)
        self._set_group(frame.group())
        try:
            yield
        finally:
            self._close_deferred(frame)
            frame.span.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1].group() if self._stack else None)

    def python_row_counts(self, layer: str) -> tuple[int, int]:
        """(rows sent to, rows returned from) the layer's mapInPandas
        functions."""
        accs = self.python_rows.get(layer)
        return (accs[0].value, accs[1].value) if accs else (0, 0)

    def _call(self, layer: str, name: str, fn, args, kwargs):
        if not self.enabled or not self._stack:
            return fn(*args, **kwargs)
        parent = self._stack[-1]
        self._close_deferred(parent)
        frame = _Frame(self._new_span(layer, name, parent.span.id))
        self._stack.append(frame)
        self._set_group(frame.group())
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            self._close_deferred(frame)
            frame.span.end = time.time()
            self._stack.pop()
            if (
                parent.span.layer in _SINKING
                and layer != parent.span.layer
                and _is_lazy(result)
            ):
                parent.deferred = self._new_span(layer, f"{name} (deferred)", parent.span.id)
            self._set_group(parent.group())

    # -- patching -----------------------------------------------------------

    def _wrap(self, layer: str, fn, name_of=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            name = name_of(args) if name_of else fn.__name__
            return tracer._call(layer, name, fn, args, kwargs)

        return traced

    def install(self) -> None:
        """Patch every layer entry point, in its module and wherever a
        package module imported it by name."""
        importlib.import_module("butterfly_osm_spark.queries")
        checkpoint = importlib.import_module("butterfly_osm_spark.checkpoint")
        partitioning = importlib.import_module("butterfly_osm_spark.partitioning")
        replace: dict[int, object] = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            if names is None:
                names = [
                    n
                    for n, f in vars(mod).items()
                    if inspect.isfunction(f)
                    and f.__module__ == modname
                    and not n.startswith("_")
                    and not n.endswith("_oracle_sql")
                ]
            for n in names:
                fn = getattr(mod, n)
                replace[id(fn)] = self._wrap(layer, fn)

        orig_width = partitioning.python_group_partitions

        @functools.wraps(orig_width)
        def width(df):
            n = orig_width(df)
            if self.enabled:
                self.gather_widths.append(n)
            return n

        replace[id(orig_width)] = width
        for mod in [m for name, m in sys.modules.items() if name.startswith("butterfly_osm_spark")]:
            for attr, val in list(vars(mod).items()):
                if id(val) in replace and getattr(replace[id(val)], "__wrapped__", None) is val:
                    setattr(mod, attr, replace[id(val)])
        run_stage = checkpoint.Build.run_stage
        checkpoint.Build.run_stage = self._wrap("checkpoint", run_stage, lambda a: f"run_stage:{a[1].name}")

        frame_class = type(self._spark.range(0))  # the session's DataFrame implementation
        orig_map = frame_class.mapInPandas

        @functools.wraps(orig_map)
        def map_in_pandas(df, func, schema, *args, **kwargs):
            layer = self._stack[-1].span.layer if self.enabled and self._stack else None
            if layer is not None:
                if layer not in self.python_rows:
                    self.python_rows[layer] = (self._sc.accumulator(0), self._sc.accumulator(0))
                func = _counted(func, *self.python_rows[layer])
            return orig_map(df, func, schema, *args, **kwargs)

        frame_class.mapInPandas = map_in_pandas


def _counted(func, rows_in, rows_out):
    """``func`` (a mapInPandas function) counting, in the Python worker,
    the rows it receives and returns."""

    def counted(batches):
        def received():
            for pdf in batches:
                rows_in.add(len(pdf))
                yield pdf

        for pdf in func(received()):
            rows_out.add(len(pdf))
            yield pdf

    return counted


def _is_lazy(value) -> bool:
    from pyspark.sql import Column, DataFrame

    return isinstance(value, (DataFrame, Column))


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _computed_scopes(rdds: list[dict], materialized: set[int]) -> set[str]:
    """Operator scopes a stage computes: its RDD lineage walked from the
    stage's last RDDs, not descending into RDDs already held in cache."""
    by_id = {r["RDD ID"]: r for r in rdds}
    parents = {p for r in rdds for p in r["Parent IDs"]}
    todo = [i for i in by_id if i not in parents]
    seen, scopes = set(), set()
    while todo:
        i = todo.pop()
        if i in seen or i not in by_id or i in materialized:
            continue
        seen.add(i)
        if by_id[i].get("Scope"):
            scopes.add(json.loads(by_id[i]["Scope"])["name"])
        todo.extend(by_id[i]["Parent IDs"])
    return scopes


def _cached(rdd: dict) -> bool:
    level = rdd.get("Storage Level") or {}
    return bool(level.get("Use Memory") or level.get("Use Disk"))


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith("events_") or f.startswith("local-"):
                with open(os.path.join(root, f)) as fh:
                    events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_stages(events: list[dict]) -> list[dict]:
    """One record per executed stage attempt: the job group it ran under,
    wall interval, task counters and the operators it computed."""
    stage_group: dict[int, str | None] = {}
    materialized: set[int] = set()
    stages: dict[tuple, dict] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif ev == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                "group": stage_group.get(si["Stage ID"]),
                "submitted": si.get("Submission Time") or 0,
                "start": 0.0, "end": 0.0,
                "ops": _computed_scopes(si["RDD Info"], materialized),
                "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0, "sched_wait_s": 0.0,
                "fetch_wait_s": 0.0, "shuffle_bytes": 0.0, "shuffle_records": 0.0, "python_bytes": 0.0,
            }
        elif ev == "SparkListenerTaskEnd":
            r = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
            if r is None:
                continue
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            r["tasks"] += 1
            if e["Task End Reason"].get("Reason") != "Success" or info.get("Failed") or info.get("Killed"):
                r["failed_tasks"] += 1
            r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["sched_wait_s"] += max(0, info["Launch Time"] - r["submitted"]) / 1e3
            r["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            r["python_bytes"] += sum(
                _num(a.get("Update")) for a in info.get("Accumulables", [])
                if a["Name"] == "data sent to Python workers"
            )
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            r = stages.get((si["Stage ID"], si["Stage Attempt ID"]))
            if r is None:
                continue
            r["start"] = (si.get("Submission Time") or 0) / 1e3
            r["end"] = (si.get("Completion Time") or 0) / 1e3
            if "Failure Reason" not in si:
                materialized.update(x["RDD ID"] for x in si["RDD Info"] if _cached(x))
        elif ev == "SparkListenerUnpersistRDD":
            materialized.discard(e["RDD ID"])
    return list(stages.values())


def fold(events: list[dict], spans: list[Span], passes: list[int]) -> dict:
    """Per-layer totals over the spans of ``passes``, divided by the number
    of passes (so every value is per workload pass)."""
    keep = [s for s in spans if s.pass_idx in passes and s.end is not None]
    by_id = {s.id: s for s in keep}
    children: dict[str, float] = defaultdict(float)
    for s in keep:
        if s.parent in by_id:
            children[s.parent] += s.end - s.start
    out: dict[str, float] = defaultdict(float)
    for s in keep:
        if s.layer is not None:
            out[f"{s.layer}.s"] += max(0.0, (s.end - s.start) - children[s.id])
        if s.name == "adaptive_res":
            out["knn.adaptive_res_s"] += s.end - s.start

    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            span = by_id.get((e.get("Properties") or {}).get("spark.jobGroup.id"))
            if span is not None and span.layer is not None:
                out[f"{span.layer}.jobs"] += 1

    for st in fold_stages(events):
        span = by_id.get(st["group"])
        if span is None or span.layer is None:
            continue
        L = span.layer
        for k in ("tasks", "failed_tasks", "cpu_s", "sched_wait_s", "fetch_wait_s"):
            out[f"{L}.{k}"] += st[k]
        out[f"{L}.shuffle_mb"] += st["shuffle_bytes"] / 1e6
        out[f"{L}.python_mb"] += st["python_bytes"] / 1e6
        wall = max(0.0, st["end"] - st["start"])
        ops = st["ops"]
        if L == "knn":
            out["_knn.shuffle_records"] += st["shuffle_records"]
        elif L == "pip":
            if "FlatMapGroupsInPandas" in ops:
                out["pip.cover_s"] += wall
        elif L == "raster":
            if any(op in ops for op in PYTHON_GROUP_OPS):
                out["raster.trace_s"] += wall
                out["raster.trace_tasks"] += st["tasks"]
            elif "MapInPandas" in ops:
                out["raster.stamp_s"] += wall
        elif L == "dedup":
            out["dedup.stages"] += 1
    n = max(1, len(passes))
    return {k: v / n for k, v in out.items()}
