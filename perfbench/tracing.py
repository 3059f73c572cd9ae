"""Layer tracing for the benchmark's traced run (``--trace 1``).

The program carries no tracing code. Instead this module wraps the
public functions of each odibi_spark layer at run time, patching every
name at the place it is looked up: ``plans/node.py`` imports
``read_source``, ``write_sink`` and ``run_validation`` by name, while the
patterns and ``state.hwm`` are imported lazily from their own modules
at call time, so those are patched on the module.

Each wrapper records a span (layer, name, parent, start, end) in memory
and sets the Spark job group of the calling thread to the span id for
the span's duration, so the Spark event log attributes every job to the
innermost span whose thread submitted it. Layer-parallel node threads
set their own group; a span opened on a pool thread with no open span of
its own takes the innermost open span of the main thread as its parent.

Spark is lazy: a layer that only builds a plan launches no job, and the
scan cost of a plan lands in whichever layer's call triggers the job
(for a pipeline usually ``io.write``, ``validation`` or a pattern).
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

LAYERS = [
    "plans", "context", "operators", "llm", "io.read", "io.write",
    "patterns.dimension", "patterns.fact", "patterns.scd2", "patterns.merge",
    "validation", "state", "semantics", "catalog",
]

# (layer, module, attribute path) for every wrapped function. The
# registry entry resolves its layer per call from the operator's module.
TARGETS = [
    ("plans", "odibi_spark.plans.pipeline", "load_pipeline_yaml"),
    ("plans", "odibi_spark.plans.pipeline", "Pipeline.run"),
    ("plans", "odibi_spark.plans.node", "NodeExecutor.execute"),
    ("context", "odibi_spark.context", "Context.register"),
    ("context", "odibi_spark.context", "Context.get"),
    ("context", "odibi_spark.context", "EngineContext.sql"),
    (None, "odibi_spark.registry", "FunctionRegistry.apply"),
    ("io.read", "odibi_spark.plans.node", "read_source"),
    ("io.write", "odibi_spark.plans.node", "write_sink"),
    ("io.write", "odibi_spark.io", "write_sink"),
    ("patterns.dimension", "odibi_spark.patterns.dimension", "build_dimension"),
    ("patterns.fact", "odibi_spark.patterns.fact", "build_fact"),
    ("patterns.scd2", "odibi_spark.patterns.scd2", "scd2_apply"),
    ("patterns.scd2", "odibi_spark.patterns.dimension", "scd2_apply"),
    ("patterns.merge", "odibi_spark.patterns.merge", "merge_apply"),
    ("validation", "odibi_spark.plans.node", "run_validation"),
    ("validation", "odibi_spark.plans.node", "apply_gate"),
    ("state", "odibi_spark.state.hwm", "incremental_filter"),
    ("state", "odibi_spark.state.hwm", "capture_hwm"),
    ("state", "odibi_spark.state.hwm", "JsonStateBackend.get"),
    ("state", "odibi_spark.state.hwm", "JsonStateBackend.set"),
    ("semantics", "odibi_spark.semantics.query", "SemanticQuery.execute"),
    ("semantics", "odibi_spark.semantics.query", "SemanticQuery.to_sql"),
    ("catalog", "odibi_spark.catalog", "run_pipeline_with_catalog"),
]

JOB_GROUP = "spark.jobGroup.id"
PROBE_GROUP = "perfbench-probe"


@dataclass
class Span:
    id: str
    layer: str
    name: str
    parent: str | None
    t0: float
    t1: float = 0.0


def _registry_layer(args) -> str:
    registry, name = args[0], args[1]
    module = registry.get(name).__module__
    return "llm" if module.startswith("odibi_spark.llm") else "operators"


class Tracer:
    """Collects spans while installed; ``install``/``uninstall`` patch
    and restore every target, so one process can alternate traced and
    untraced ops. Spans stay in memory until ``layer_metrics``."""

    def __init__(self):
        self.spans: list[Span] = []
        self.ops: list[tuple[float, float, list[Span]]] = []
        self.hwm_rows = [0, 0]              # rows scanned, rows selected
        self._hwm_probes: list[tuple] = []  # (input frame, filtered frame)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._saved: list[tuple] = []
        self._op_first = 0

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """One span around a block; sets the thread's Spark job group to
        the span id while it is open."""
        from pyspark import SparkContext

        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(f"s{next(self._ids)}", layer, name,
                      parent.id if parent else None, time.perf_counter())
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty(JOB_GROUP, sp.id)
        stack.append(sp)
        try:
            yield
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(JOB_GROUP, stack[-1].id if stack else None)
            with self._lock:
                self.spans.append(sp)

    def _wrap(self, layer, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            lay = layer if layer is not None else _registry_layer(args)
            with tracer.span(lay, name):
                out = fn(*args, **kwargs)
            if name == "incremental_filter":
                tracer._hwm_probes.append((args[0], out))
            return out

        return traced

    def install(self) -> None:
        for layer, module, path in TARGETS:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            original = owner.__dict__[attr]
            self._saved.append((owner, attr, original))
            setattr(owner, attr, self._wrap(layer, attr, original))
        self._op_first = len(self.spans)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def end_op(self, t0: float, t1: float) -> None:
        """Close a traced op: keep its window and spans, then count the
        rows the HWM filters scanned and selected (under a probe job
        group, after the op's clock stopped)."""
        from pyspark import SparkContext

        self.ops.append((t0, t1, self.spans[self._op_first:]))
        sc = SparkContext._active_spark_context
        sc.setLocalProperty(JOB_GROUP, PROBE_GROUP)
        for scanned, selected in self._hwm_probes:
            self.hwm_rows[0] += scanned.count()
            self.hwm_rows[1] += selected.count()
        sc.setLocalProperty(JOB_GROUP, None)
        self._hwm_probes.clear()


def self_times(spans: list[Span], t_start: float, t_end: float) -> dict[str, float]:
    """Self time of each span inside [t_start, t_end].

    The window is cut at every span boundary. Each piece goes to the
    innermost spans open over it (open spans with no open child), split
    evenly when parallel threads have several. Without concurrency this
    is a span's duration minus the time its children cover; with it,
    the self times still add up to the time covered by any span, so
    ``sum(self) + unattributed == wall``."""
    inside = [s for s in spans if s.t1 > t_start and s.t0 < t_end]
    cuts = sorted({t_start, t_end, *(max(t_start, min(t_end, t))
                                     for s in inside for t in (s.t0, s.t1))})
    out = {s.id: 0.0 for s in inside}
    for a, b in zip(cuts, cuts[1:]):
        open_ = [s for s in inside if s.t0 <= a and s.t1 >= b]
        if not open_:
            continue
        parents = {s.parent for s in open_}
        leaves = [s for s in open_ if s.id not in parents]
        for s in leaves:
            out[s.id] += (b - a) / len(leaves)
    return out


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, task seconds, GC seconds, shuffle bytes
    written, bytes read by scans and bytes written by output tasks.
    A stage is charged to the first job that lists it."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
                totals[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = totals[stage_group.get(ev.get("Stage ID"), "")]
                t["task_s"] += m.get("Executor Run Time", 0) / 1e3
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return totals


GENERIC = ("calls", "self_s", "jobs", "task_s", "shuffle_mb", "gc_s")
SPECIFIC = (
    "session.start_s", "plans.load_s", "io.read.mb", "io.write.mb", "io.write.files",
    "validation.jobs_per_node", "state.selected_ratio", "semantics.compile_s",
    "catalog.files", "unattributed_s", "trace.op_s", "trace.overhead_s",
)


def metric_names() -> list[str]:
    return [f"{layer}.{m}" for layer in LAYERS for m in GENERIC] + list(SPECIFIC)


def layer_metrics(tracer: Tracer, event_log_dir: str, latencies: list[float],
                  traced: list[bool], start_s: float, *, catalog_root: str | None,
                  files_per_op: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics, each the mean over the traced ops (so that
    the layers' ``self_s`` plus ``unattributed_s`` add up to
    ``trace.op_s``). Spark job figures come from the event log, by the
    job group of the span that launched each job."""
    n = len(tracer.ops)
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        for group, totals in read_event_log(path).items():
            for k, v in totals.items():
                groups[group][k] += v

    per_layer: dict[str, dict[str, float]] = {
        layer: dict.fromkeys(GENERIC, 0.0) for layer in LAYERS}
    named: dict[str, float] = defaultdict(float)
    attributed = 0.0
    for t0, t1, spans in tracer.ops:
        selfs = self_times(spans, t0, t1)
        for sp in spans:
            lay = per_layer[sp.layer]
            lay["calls"] += 1
            lay["self_s"] += selfs.get(sp.id, 0.0)
            attributed += selfs.get(sp.id, 0.0)
            named[sp.name] += sp.t1 - sp.t0
            named[sp.name + ".calls"] += 1
            g = groups.get(sp.id, {})
            lay["jobs"] += g.get("jobs", 0)
            lay["task_s"] += g.get("task_s", 0)
            lay["shuffle_mb"] += g.get("shuffle_bytes", 0) / 1e6
            lay["gc_s"] += g.get("gc_s", 0)
            named["input_bytes"] += g.get("input_bytes", 0)
            if sp.layer == "io.write":
                named["io_write_bytes"] += g.get("output_bytes", 0)

    op_s = sum(t1 - t0 for t0, t1, _ in tracer.ops)
    lat_on = [x for x, on in zip(latencies, traced) if on]
    lat_off = [x for x, on in zip(latencies, traced) if not on]
    catalog_files = 0
    if catalog_root:
        catalog_files = sum(len(names) for _, _, names in os.walk(catalog_root))
    scanned, selected = tracer.hwm_rows
    out: dict[str, tuple[float, str]] = {}
    units = {"calls": "count", "self_s": "s", "jobs": "count", "task_s": "s",
             "shuffle_mb": "MB", "gc_s": "s"}
    for layer, vals in per_layer.items():
        for m in GENERIC:
            out[f"{layer}.{m}"] = (vals[m] / n, units[m])
    out.update({
        "session.start_s": (start_s, "s"),
        "plans.load_s": (named["load_pipeline_yaml"] / n, "s"),
        "io.read.mb": (named["input_bytes"] / 1e6 / n, "MB"),
        "io.write.mb": (named["io_write_bytes"] / 1e6 / n, "MB"),
        "io.write.files": (files_per_op, "count"),
        "validation.jobs_per_node": (
            per_layer["validation"]["jobs"] / named["run_validation.calls"]
            if named["run_validation.calls"] else 0.0, "count"),
        "state.selected_ratio": (selected / scanned if scanned else 0.0, "ratio"),
        "semantics.compile_s": (named["to_sql"] / n, "s"),
        "catalog.files": (float(catalog_files), "count"),
        "unattributed_s": ((op_s - attributed) / n, "s"),
        "trace.op_s": (op_s / n, "s"),
        "trace.overhead_s": (statistics.median(lat_on) - statistics.median(lat_off), "s"),
    })
    return out
