"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here lives in the benchmark's own files and observes the
program from outside:

- ``Tracer`` keeps spans in memory.  A span has a layer, a name, a
  start, an end, a parent span and the id of the timed query
  invocation it belongs to.  A layer's figure is the spans' *self*
  time: duration minus the part covered by child spans.
- ``install_layer_spans`` wraps each public function of the layer
  modules where it is defined and wherever a package module bound it
  with a module-level ``from ... import``; call-time imports pick up
  the patched module attribute.
- The readers pull Spark's own counters after each query, outside the
  timer: stage metrics from the JVM ``AppStatusStore``, the Python
  worker metrics from the SQL status store, cached block sizes, and
  streaming progress through a ``StreamingQueryListener``.  These are
  private Spark APIs, so each reader returns an empty record labelled
  with the reason when a call is missing.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JError

PKG = "another_map_reduce_spark"

# layer name -> modules whose public functions get a span
LAYER_MODULES = {
    "operators.graph": ["operators.graph"],
    "operators.dedup": ["operators.dedup"],
    "operators.similarity": ["operators.similarity"],
    "operators.wordcount": ["operators.wordcount"],
    "operators.mapreduce": ["operators.mapreduce"],
    "sources": [
        "sources.tables",
        "sources.text",
        "sources.formats",
        "sources.buslog",
        "sources.pydatasource",
    ],
    "sinks": ["sinks"],
    "storeops": ["storeops"],
}

# Private-API failures a reader turns into a labelled empty record.
READER_ERRORS = (Py4JError, AttributeError)


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float | None
    parent: int | None
    invocation: int


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its children cover,
    children clipped to the parent's interval."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None and s.end is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        if s.end is None:
            out.append(0.0)
            continue
        clipped = [
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in children.get(i, [])
            if hi > s.start and lo < s.end
        ]
        out.append(max(0.0, (s.end - s.start) - union_length(clipped)))
    return out


class Tracer:
    """In-memory spans plus named counters, keyed by invocation id.

    Spans opened on another thread (foreachBatch callbacks, Spark's
    Python callback server) nest under the main thread's innermost
    open span, so their time is not counted twice."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self.invocation = 0
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._lock = threading.Lock()

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[self.invocation][name] += value

    @contextmanager
    def span(self, layer: str, name: str) -> Iterator[None]:
        stack = self._stacks[threading.get_ident()]
        if stack:
            parent: int | None = stack[-1]
        else:
            main = self._stacks[self._main]
            parent = main[-1] if main else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(layer, name, time.perf_counter(), None, parent,
                     self.invocation)
            )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def layer_self_times(self, invocation: int) -> dict[str, float]:
        """Self seconds per layer for one invocation."""
        idx = [i for i, s in enumerate(self.spans) if s.invocation == invocation]
        if not idx:
            return {}
        remap = {old: new for new, old in enumerate(idx)}
        sub = []
        for i in idx:
            s = self.spans[i]
            parent = remap.get(s.parent) if s.parent is not None else None
            sub.append(Span(s.layer, s.name, s.start, s.end, parent,
                            s.invocation))
        out: dict[str, float] = defaultdict(float)
        for s, t in zip(sub, self_times(sub)):
            out[s.layer] += t
        return dict(out)


def _traced(tracer: Tracer, layer: str, fn: Callable) -> Callable:
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(layer, fn.__qualname__):
            return fn(*args, **kwargs)

    return traced


def install_layer_spans(tracer: Tracer) -> int:
    """Wrap the layer modules' public functions; returns the count."""
    wrapped: dict[int, Callable] = {}
    for layer, mods in LAYER_MODULES.items():
        for rel in mods:
            mod = importlib.import_module(f"{PKG}.{rel}")
            for name, obj in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or inspect.isgeneratorfunction(obj)
                ):
                    continue
                w = _traced(tracer, layer, obj)
                wrapped[id(obj)] = w
                setattr(mod, name, w)
    _install_artifact_spans(tracer, wrapped)
    # Re-point module-level `from ... import` bindings in the package.
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith(PKG):
            continue
        for name, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None and w is not obj:
                setattr(mod, name, w)
    _install_spark_spans(tracer)
    return len(wrapped)


def _install_artifact_spans(tracer: Tracer, wrapped: dict) -> None:
    """``artifacts.ensure_artifact``: count and time builder runs."""
    mod = importlib.import_module(f"{PKG}.artifacts")
    orig = mod.ensure_artifact

    @functools.wraps(orig)
    def ensure_artifact(path, fingerprint, builder):
        def timed_builder():
            t0 = time.perf_counter()
            with tracer.span("artifacts", "build"):
                builder()
            tracer.add("artifacts.builds", 1)
            tracer.add("artifacts.build_s", time.perf_counter() - t0)

        return orig(path, fingerprint, timed_builder)

    wrapped[id(orig)] = ensure_artifact
    mod.ensure_artifact = ensure_artifact


def _install_spark_spans(tracer: Tracer) -> None:
    """Spans around Spark's own public calls the layers lean on."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.streaming.query import StreamingQuery

    orig_cp = DataFrame.localCheckpoint

    @functools.wraps(orig_cp)
    def local_checkpoint(self, *args, **kwargs):
        tracer.add("spark.local_checkpoint.calls", 1)
        with tracer.span("spark.local_checkpoint", "localCheckpoint"):
            return orig_cp(self, *args, **kwargs)

    DataFrame.localCheckpoint = local_checkpoint
    for meth in ("awaitTermination", "processAllAvailable"):
        setattr(StreamingQuery, meth, _traced(
            tracer, "streaming.await", getattr(StreamingQuery, meth)))


# --- SQL metric strings -----------------------------------------------

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "PiB": 2.0**50,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float | None:
    """A SQL metric display string as seconds, bytes or a count.

    Handles ``"2.5 s"``, ``"151.8 KiB"`` and the per-task form
    ``"total (min, med, max ...)\\n4.7 s (0 ms, 1 ms, 2.3 s ...)"``,
    whose total is the first value of its second line."""
    if text is None:
        return None
    lines = text.strip().splitlines()
    if not lines:
        return None
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.match(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    scale = _UNITS.get(unit)
    return None if scale is None else value * scale


# SQL metric name (lower case) -> per-layer metric; bytes become MB.
PYTHON_METRICS = {
    "time to start python workers": "python.boot_s",
    "time to initialize python workers": "python.init_s",
    "time to run python workers": "python.run_s",
    "data sent to python workers": "python.sent_mb",
    "data returned from python workers": "python.recv_mb",
}


# --- private-API readers ----------------------------------------------


def wait_listener_bus(sc) -> dict:
    """Block until Spark's listener bus has delivered every event."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except READER_ERRORS as exc:
        return {"available": False, "reason": f"listenerBus: {exc!r}"[:200]}
    return {"available": True}


def _seq(seq) -> Iterator:
    for i in range(seq.size()):
        yield seq.apply(i)


def _opt(option):
    return option.get() if option.isDefined() else None


def read_new_stages(sc, seen: set) -> dict:
    """Metrics of the stages finished since the last call."""
    try:
        jvm = sc._jvm
        quantiles = sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stages = sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, True, quantiles,
            jvm.java.util.ArrayList(),
        )
        out: dict = defaultdict(float)
        intervals = []
        for st in _seq(stages):
            key = (st.stageId(), st.attemptId())
            if key in seen or st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            seen.add(key)
            out["stages.count"] += 1
            out["tasks.count"] += st.numCompleteTasks() + st.numFailedTasks()
            out["tasks.failed"] += st.numFailedTasks()
            out["executor.run_s"] += st.executorRunTime() / 1e3
            out["executor.cpu_s"] += st.executorCpuTime() / 1e9
            out["jvm.gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle.read_mb"] += st.shuffleReadBytes() / 2**20
            out["shuffle.write_mb"] += st.shuffleWriteBytes() / 2**20
            out["shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            out["spill.mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / 2**20
            dist = _opt(st.taskMetricsDistributions())
            if dist is not None and st.numCompleteTasks() > 1:
                run = list(_seq(dist.executorRunTime()))
                out["tasks.median_ms_sum"] += run[0]
                out["tasks.max_ms_sum"] += run[1]
            sub, done = _opt(st.submissionTime()), _opt(st.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
        out["stages.busy_s"] = union_length(intervals)
        return {"available": True, **out}
    except READER_ERRORS as exc:
        return {"available": False, "reason": f"stageList: {exc!r}"[:200]}


def read_new_python_metrics(spark, seen: set) -> dict:
    """Python-worker SQL metrics of the executions since the last call."""
    try:
        store = spark._jsparkSession.sharedState().statusStore()
        out: dict = defaultdict(float)
        for ex in _seq(store.executionsList()):
            eid = ex.executionId()
            if eid in seen or _opt(ex.completionTime()) is None:
                continue
            seen.add(eid)
            wanted = {}
            for m in _seq(ex.metrics()):
                key = PYTHON_METRICS.get(m.name().lower())
                if key is not None:
                    wanted[m.accumulatorId()] = key
            if not wanted:
                continue
            it = store.executionMetrics(eid).iterator()
            while it.hasNext():
                pair = it.next()
                key = wanted.get(pair._1())
                value = parse_sql_metric(pair._2())
                if key is None or value is None:
                    continue
                out[key] += value / 2**20 if key.endswith("_mb") else value
        return {"available": True, **out}
    except READER_ERRORS as exc:
        return {"available": False, "reason": f"sqlStatusStore: {exc!r}"[:200]}


def read_cached_mb(sc) -> dict:
    """Size of the blocks Spark holds for cached/checkpointed RDDs."""
    try:
        total = 0
        for info in sc._jsc.sc().getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return {"available": True, "storage.cached_mb": total / 2**20}
    except READER_ERRORS as exc:
        return {"available": False, "reason": f"getRDDStorageInfo: {exc!r}"[:200]}


def progress_listener(tracer: Tracer):
    """A StreamingQueryListener adding each micro-batch's progress to
    the tracer's counters (built lazily: pyspark import)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs or {}
            tracer.add("streaming.batches", 1)
            tracer.add("streaming.trigger_s", d.get("triggerExecution", 0) / 1e3)
            tracer.add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
            tracer.add("streaming.planning_s", d.get("queryPlanning", 0) / 1e3)
            tracer.add(
                "streaming.commit_s",
                (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            )
            for op in p.stateOperators or []:
                tracer.add("streaming.state_update_s", op.allUpdatesTimeMs / 1e3)
                tracer.add("streaming.state_rows", op.numRowsUpdated)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()
