"""Per-layer tracing of the engine from outside the program.

A layer is one module of the engine. ``Tracer.install`` replaces each
public function of the traced modules with a wrapper that records a span
around the call, and rebinds every reference the package's loaded
modules hold to the original, so ``from .x import f`` callers are traced
too. ``Tracer.uninstall`` puts the originals back. Nothing inside the
program records spans.

On entry a span sets a Spark job group of its own and on exit restores
its parent's, so a span owns the jobs launched while it is the innermost
open span. ``harvest`` reads those jobs and their stages from Spark's
status store (no Spark job is launched for it) and adds their counters
to the owning layer.

Stage bodies are lazy: the write of a checkpointed stage runs inside
``StageCheckpoint.materialize``, so each ``materialize`` call is a span
of the layer that owns the stage (``stage_layer``). A call that finds a
valid checkpoint and skips the stage is credited to
``pipeline.checkpoint`` instead.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import time
from dataclasses import dataclass, field

from . import procstat

PKG = "osm2vdv462_spark"

LAYERS = (
    "session",
    "pipeline.world",
    "pipeline.checkpoint",
    "pipeline.stop_places",
    "operators.spatial_join",
    "operators.cluster",
    "pipeline.routing",
    "pipeline.export",
    "operators.jvm_pip",
    "operators.fused",
    "pipeline.images",
    "pipeline.geopipe",
)

COUNTERS = (
    "self_s",
    "calls",
    "jobs",
    "tasks",
    "jvm_cpu_s",
    "py_cpu_s",
    "shuffle_bytes",
    "output_bytes",
    "gc_s",
)

# checkpoint-only counters, reported beside the nine per-layer ones
CHECKPOINT_EXTRA = ("skipped", "skip_ratio")

# Stage name -> owning layer; exact names first, then prefixes.
_STAGE_EXACT = {
    "final_quays": "pipeline.stop_places",
    "final_entrances": "pipeline.stop_places",
    "final_access_spaces": "pipeline.stop_places",
    "stop_area_edges": "pipeline.routing",
    "path_links": "pipeline.routing",
    "access_spaces": "pipeline.routing",
    "paths_elements_ref": "pipeline.routing",
    "final_site_path_links": "pipeline.routing",
    "export_data": "pipeline.export",
    "assemble_document": "pipeline.export",
    "images": "pipeline.images",
    "verify": "pipeline.images",
    "join_rows": "operators.jvm_pip",
}
_STAGE_PREFIX = (
    ("world_", "pipeline.world"),
    ("platforms_", "pipeline.stop_places"),
    ("xml_", "pipeline.export"),
    ("tile_", "pipeline.geopipe"),
)


def stage_layer(stage: str) -> str:
    """The layer credited with a checkpointed stage's write."""
    if stage in _STAGE_EXACT:
        return _STAGE_EXACT[stage]
    for prefix, layer in _STAGE_PREFIX:
        if stage.startswith(prefix):
            return layer
    return "pipeline.checkpoint"


def last_job_id(sc) -> int:
    """Id of the newest Spark job of ``sc`` once the listener bus has
    drained (-1 before the first). The status store lists the newest job
    first."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(min(jobs.size(), 8))),
               default=-1)


def metric_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS]
    names += [f"pipeline.checkpoint.{c}" for c in CHECKPOINT_EXTRA]
    return names


@dataclass
class _Span:
    layer: str
    group: str
    self_s: float = 0.0
    py_cpu_s: float = 0.0


@dataclass
class _Totals:
    """Per-layer counters plus the checkpoint skip tally."""

    layers: dict = field(
        default_factory=lambda: {
            layer: dict.fromkeys(COUNTERS, 0.0) for layer in LAYERS
        }
    )
    materialized: int = 0
    skipped: int = 0
    unowned_jobs: int = 0


class Tracer:
    def __init__(self):
        self._stack: list[_Span] = []
        self._originals: list[tuple[object, str, object]] = []
        self._group_layer: dict[str, str] = {}
        self._next_span = 0
        self._sc = None
        self._store = None
        self._workers = None
        self._last_t = time.perf_counter()
        self._last_py = 0.0
        self._seen_job = -1
        self._seen_stages: set[int] = set()
        self.totals = _Totals()

    # ---------------------------------------------------------- install

    def install(self) -> None:
        """Wrap the public functions of every layer module."""
        import importlib

        wrapped: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PKG}.{layer}")
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or inspect.isgeneratorfunction(fn)
                ):
                    continue
                wrapped[id(fn)] = self._wrap(fn, layer)
        from osm2vdv462_spark.pipeline.checkpoint import StageCheckpoint

        self._set(StageCheckpoint, "materialize",
                  self._wrap_materialize(StageCheckpoint.materialize))
        # rebind every module-level reference to a wrapped original,
        # including names imported with ``from .module import name``
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for name, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    self._set(mod, name, w)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._originals):
            setattr(owner, name, orig)
        self._originals.clear()

    def _set(self, owner, name, value) -> None:
        self._originals.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer._open(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        return traced

    def _wrap_materialize(self, fn):
        tracer = self

        @functools.wraps(fn)
        def materialize(ck, name, *args, **kwargs):
            span = tracer._open(stage_layer(name))
            try:
                return fn(ck, name, *args, **kwargs)
            finally:
                skipped = bool(ck.stats.get(name, {}).get("skipped"))
                tracer.totals.materialized += 1
                tracer.totals.skipped += skipped
                tracer._close(span, "pipeline.checkpoint" if skipped else None)

        return materialize

    # ---------------------------------------------------------- spans

    def attach(self, spark) -> None:
        """Start owning jobs and reading Python-worker CPU of ``spark``."""
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        jvm_pid = self._sc._gateway.proc.pid
        self._workers = procstat.WorkerCpu(jvm_pid)
        self._last_py = self._workers.read_s()
        self._seen_job = last_job_id(self._sc)

    @contextlib.contextmanager
    def span(self, layer: str):
        """A span opened by the benchmark itself, e.g. around the action
        that runs a plan an operator returned lazily."""
        s = self._open(layer)
        try:
            yield
        finally:
            self._close(s)

    def _boundary(self) -> None:
        now = time.perf_counter()
        py = self._workers.read_s() if self._workers is not None else 0.0
        if self._stack:
            top = self._stack[-1]
            top.self_s += now - self._last_t
            top.py_cpu_s += max(py - self._last_py, 0.0)
        self._last_t, self._last_py = now, py

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None and self._sc._jsc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)

    def _open(self, layer: str) -> _Span:
        self._boundary()
        self._next_span += 1
        span = _Span(layer, f"perfbench-span-{self._next_span}")
        self._stack.append(span)
        self._set_group(span.group)
        return span

    def _close(self, span: _Span, layer: str | None = None) -> None:
        self._boundary()
        self._stack.pop()
        layer = layer or span.layer
        t = self.totals.layers[layer]
        t["self_s"] += span.self_s
        t["py_cpu_s"] += span.py_cpu_s
        t["calls"] += 1
        self._group_layer[span.group] = layer
        self._set_group(self._stack[-1].group if self._stack else None)

    # ---------------------------------------------------------- harvest

    def harvest(self) -> None:
        """Credit every job finished since the last harvest to the layer
        of the span that launched it. Call between passes: the status
        store keeps a bounded number of jobs."""
        if self._store is None:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        new = []
        for i in range(jobs.size()):  # newest first
            j = jobs.apply(i)
            if j.jobId() <= self._seen_job:
                continue
            new.append(j)
        new.sort(key=lambda j: j.jobId())
        for j in new:
            self._seen_job = max(self._seen_job, j.jobId())
            group = j.jobGroup()
            layer = self._group_layer.get(group.get()) if group.isDefined() else None
            if layer is None:
                self.totals.unowned_jobs += 1
                continue
            t = self.totals.layers[layer]
            t["jobs"] += 1
            t["tasks"] += j.numTasks() - j.numSkippedTasks()
            stage_ids = j.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                attempts = self._store.stageData(sid, False, None, False, None)
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    t["jvm_cpu_s"] += s.executorCpuTime() / 1e9
                    t["shuffle_bytes"] += s.shuffleWriteBytes()
                    t["output_bytes"] += s.outputBytes()
                    t["gc_s"] += s.jvmGcTime() / 1e3

    def snapshot(self) -> dict:
        """Flat ``{"<layer>.<counter>": value}`` of the totals so far."""
        out = {
            f"{layer}.{c}": v
            for layer, counters in self.totals.layers.items()
            for c, v in counters.items()
        }
        out["pipeline.checkpoint.skipped"] = float(self.totals.skipped)
        out["pipeline.checkpoint.materialized"] = float(self.totals.materialized)
        out["unowned_jobs"] = float(self.totals.unowned_jobs)
        return out


def per_pass(before: dict, after: dict) -> dict:
    """Counters of one pass: the difference of two snapshots, with the
    checkpoint skip ratio derived from the pass's own calls."""
    out = {k: after[k] - before.get(k, 0.0) for k in after}
    calls = out.pop("pipeline.checkpoint.materialized")
    out["pipeline.checkpoint.skip_ratio"] = (
        out["pipeline.checkpoint.skipped"] / calls if calls else 0.0
    )
    return out
