"""Spans around the calls into each engine layer, kept in memory.

A span records its name, layer, start, end, parent span and op id. Each span
runs under its own Spark job group, so the Spark work it launched is counted
per group once the span ends (never as a delta of global counters, which
lag the listener bus and lose jobs past ``spark.ui.retainedJobs``).

``install`` wraps the layers' public functions and store methods. It runs
before the query registry imports the plan modules, and ``rebind`` later
replaces any copy a module took with ``from ... import``, so every call
site goes through the wrapper. Wrappers cost one flag test while the tracer
is disabled.
"""

from __future__ import annotations

import functools
import itertools
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "custom_python_etl_data_connector_keerthana2k4_tech_spark"

# Physical-plan nodes that cross the Python boundary.
PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython\w*|BatchEvalPython\w*|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython|"
    r"WindowInPandas|ArrowWindowPython\w*)\b"
)

# (module, attribute, layer) for module-level functions.
_FUNCTIONS = [
    ("tables", "load", "tables.load"),
    ("operators.upsert", "upsert_parquet", "upsert"),
    ("operators.genstore", "cas_update", "genstore.cas"),
    ("operators.paired", "paired_upsert", "store.mutate"),
    ("operators.paired", "paired_delete", "store.mutate"),
    ("operators.paired", "resume_paired", "store.mutate"),
    ("operators.paired", "paired_commit_epoch", "store.mutate"),
    ("operators.paired", "paired_streaming_append", "store.mutate"),
    ("operators.paired", "repair_drift", "store.mutate"),
    ("operators.versioned", "versioned_upsert", "store.mutate"),
    ("operators.versioned", "versioned_delete", "store.mutate"),
    ("operators.versioned", "versioned_merge", "store.mutate"),
    ("operators.versioned", "compact_versioned", "store.mutate"),
    ("operators.versioned", "rollback", "store.mutate"),
    ("operators.versioned", "vacuum_versioned", "store.mutate"),
    ("operators.versioned", "read_versioned", "store.serve"),
    ("operators.versioned", "table_changes", "store.serve"),
]

_STORE_MUTATE = ("append", "upsert", "delete", "compact", "vacuum",
                 "reset_lineage", "streaming_append")
# (module, class, {method: layer}) for the index stores.
_METHODS = [
    (mod, cls, {"build": "store.build",
                **{m: "store.mutate" for m in _STORE_MUTATE},
                **{m: "store.serve" for m in serve}})
    for mod, cls, serve in [
        ("operators.postings_store", "PostingsStore",
         ("reader", "doclen_reader", "ranked_bm25", "ranked_bm25_table",
          "phrase", "phrase_table")),
        ("operators.pq_store", "IVFPQStore", ("reader", "query")),
    ]
]


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]. Children
    that overlap each other (``run_jobs`` threads) are counted once."""
    total, frontier = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, frontier), min(b, hi)
        if b > a:
            total += b - a
            frontier = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class SparkCounter:
    """Spark work of one job group, read from the driver's status store."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def count(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "tasks": 0, "task_s": 0.0, "shuffle_write_b": 0,
               "spill_b": 0, "max_task_ratio": 0.0}
        seen = set()
        for jid in jobs:
            stage_ids = store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += stage.numCompleteTasks()
                out["task_s"] += stage.executorRunTime() / 1000.0
                out["shuffle_write_b"] += stage.shuffleWriteBytes()
                out["spill_b"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                if stage.numCompleteTasks() >= 2:
                    dist = store.taskSummary(sid, stage.attemptId(), self._quantiles)
                    if dist.isDefined():
                        run = dist.get().executorRunTime()
                        med, top = run.apply(0), run.apply(1)
                        if med > 0:
                            out["max_task_ratio"] = max(out["max_task_ratio"], top / med)
        bad = {k: v for k, v in out.items() if v < 0}
        if bad:
            raise RuntimeError(f"negative Spark counts for job group {group}: {bad}")
        return out


_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_INTERRUPT = "spark.job.interruptOnCancel"


class Tracer:
    """In-memory span recorder. Disabled until ``enabled`` is set."""

    def __init__(self, sc=None, counter=None):
        self.sc = sc
        self.counter = counter or (SparkCounter(sc) if sc is not None else None)
        self.enabled = False
        self.op: str | None = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._by_group: dict[str, int] = {}

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        if self.sc is not None:  # a pool thread inherits the group of its submitter
            return self._by_group.get(self.sc.getLocalProperty(_GROUP))
        return None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        span = Span(sid, name, layer, self.op, self._parent(), time.perf_counter())
        group = f"perfbench-{sid}"
        saved = None
        if self.sc is not None:
            saved = [(k, self.sc.getLocalProperty(k)) for k in (_GROUP, _DESC, _INTERRUPT)]
            self._by_group[group] = sid
            self.sc.setJobGroup(group, f"{layer}: {name}")
        self._stack().append(sid)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack().pop()
            if self.sc is not None:
                for k, v in saved:
                    self.sc.setLocalProperty(k, v)
                span.counts.update(self.counter.count(group))
            with self._lock:
                self.spans.append(span)

    def wrap(self, fn, layer: str, name: str):
        if getattr(fn, "__perfbench__", False):
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__perfbench__ = True
        traced.__wrapped_original__ = fn
        return traced

    def wrap_lock(self, cm_fn):
        """``genstore.ptr_lock``: a span over the wait to acquire only."""
        if getattr(cm_fn, "__perfbench__", False):
            return cm_fn

        @contextmanager
        @functools.wraps(cm_fn)
        def traced(*args, **kwargs):
            cm = cm_fn(*args, **kwargs)
            if self.enabled:
                with self.span("ptr_lock", "genstore.lock_wait"):
                    cm.__enter__()
            else:
                cm.__enter__()
            try:
                yield
            except BaseException:
                if not cm.__exit__(*sys.exc_info()):
                    raise
            else:
                cm.__exit__(None, None, None)

        traced.__perfbench__ = True
        traced.__wrapped_original__ = cm_fn
        return traced


def install(tracer: Tracer) -> dict:
    """Wrap every traced layer entry point; returns {original: wrapper}."""
    import importlib

    swaps = {}
    for mod_name, attr, layer in _FUNCTIONS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        orig = getattr(mod, attr)
        swaps[orig] = tracer.wrap(orig, layer, f"{mod_name.rsplit('.', 1)[-1]}.{attr}")
        setattr(mod, attr, swaps[orig])
    genstore = importlib.import_module(f"{PKG}.operators.genstore")
    swaps[genstore.ptr_lock] = tracer.wrap_lock(genstore.ptr_lock)
    genstore.ptr_lock = swaps[genstore.ptr_lock]
    for mod_name, cls_name, methods in _METHODS:
        cls = getattr(importlib.import_module(f"{PKG}.{mod_name}"), cls_name)
        for meth, layer in methods.items():
            orig = cls.__dict__[meth]
            name = f"{cls_name}.{meth}"
            if isinstance(orig, classmethod):
                setattr(cls, meth, classmethod(tracer.wrap(orig.__func__, layer, name)))
            else:
                setattr(cls, meth, tracer.wrap(orig, layer, name))
    rebind(swaps)
    return swaps


def rebind(swaps: dict) -> int:
    """Point every package-module global that still holds an original at
    its wrapper. Returns the number of bindings replaced."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            try:
                wrapper = swaps.get(val)
            except TypeError:  # unhashable module global
                continue
            if wrapper is not None and wrapper is not val:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def python_nodes(df) -> int:
    """Python-boundary nodes in ``df``'s executed physical plan (the final
    adaptive plan once the query has run)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return len(PYTHON_NODES.findall(plan.toString()))
