"""Measurement from outside the library: spans, timed wrappers around the
library's public functions, Spark's own SQL metrics read from executed
plans, per-query job/stage/task counts, and ``/proc`` sampling of the JVM
and its Python workers.

Nothing here changes what the library computes; the wrappers only time
calls made by the benchmark's own query code.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------

class Tracer:
    """Spans kept in memory: ``(id, parent, name, start, end, attrs)``.
    A disabled tracer records nothing and costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, prefix: str) -> float:
        """Seconds spent in spans whose name starts with ``prefix``; a
        matching span inside another matching span is not counted again."""
        by_id = {s["id"]: s for s in self.spans}
        out = 0.0
        for s in self.spans:
            if not s["name"].startswith(prefix) or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and not by_id[p]["name"].startswith(prefix):
                p = by_id[p]["parent"]
            if p is None:
                out += s["end"] - s["start"]
        return out

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


def wrap_public(tracer: Tracer, module, names, layer: str) -> list:
    """Replace ``module.<name>`` with a timed wrapper that opens a span
    ``<layer>.<name>``; returns the undo list for :func:`unwrap`."""
    undo = []
    for name in names:
        fn = getattr(module, name)

        @functools.wraps(fn)
        def timed(*a, _fn=fn, _name=f"{layer}.{name}", **k):
            with tracer.span(_name):
                return _fn(*a, **k)

        setattr(module, name, timed)
        undo.append((module, name, fn))
    return undo


def unwrap(undo: list) -> None:
    for module, name, fn in reversed(undo):
        setattr(module, name, fn)


# --------------------------------------------------------------------------
# Spark: executed-plan SQL metrics, jobs, GC
# --------------------------------------------------------------------------

PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "ArrowAggregatePython",
            "AggregateInPandas", "MapInArrow", "MapInPandas", "PythonMapInArrow",
            "FlatMapGroupsInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInArrow",
            "FlatMapCoGroupsInPandas", "WindowInPandas", "ArrowWindowPython")
PY_METRICS = ("pythonTotalTime", "pythonBootTime", "pythonInitTime", "pythonDataSent",
              "pythonDataReceived", "pythonNumRowsReceived")
SUM_METRICS = PY_METRICS + ("shuffleBytesWritten", "shuffleWriteTime", "shuffleRecordsWritten",
                            "pipelineTime", "fetchWaitTime")


class QueryExecutions:
    """JVM ``QueryExecutionListener`` implemented in Python through the py4j
    callback server. While ``active`` it keeps every successful query
    execution, so their executed plans (collects and ``noop`` writes alike)
    can be walked. It stays registered for the session's life: py4j hands
    the JVM a new proxy on every call, so it cannot be unregistered."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._lock = threading.Lock()
        self._qes: list = []
        self.active = False
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        if self.active:
            with self._lock:
                self._qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    def drain(self) -> list:
        """Every execution recorded since the last drain, after the listener
        bus has delivered all pending events."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            out, self._qes = self._qes, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def walk_plan(node, acc: dict) -> None:
    """Sum :data:`SUM_METRICS` over a physical plan, descending through AQE
    (``AdaptiveSparkPlan`` → final plan, query stages → their plans). A
    reused exchange is not entered (its original is counted where it
    ran), nor is a cached relation's build plan (it ran during set-up).
    Counts Python nodes and the
    rows into / out of a ``Filter`` directly above a Python node (the
    exact-predicate refine step)."""
    name = node.nodeName()
    cls = node.getClass().getSimpleName()
    metrics = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        # timings are reported in ms; Spark keeps some of them in ns
        metrics[kv._1()] = m.value() / 1e6 if m.metricType() == "nsTiming" else m.value()
    for k in SUM_METRICS:
        if k in metrics:
            acc[k] = acc.get(k, 0) + metrics[k]
    if name in PY_NODES or cls.replace("Exec", "") in PY_NODES:
        acc["py_nodes"] = acc.get("py_nodes", 0) + 1
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif cls == "ReusedExchangeExec":
        kids = []
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    if name == "Filter" and kids:
        below = kids[0]
        while below.nodeName() in ("Project", "InputAdapter", "WholeStageCodegen"):
            below = below.children().apply(0)
        if below.nodeName() in PY_NODES:
            below_rows = below.metrics().get("pythonNumRowsReceived")
            if below_rows.isDefined():
                acc["refine_in"] = acc.get("refine_in", 0) + below_rows.get().value()
                acc["refine_out"] = acc.get("refine_out", 0) + metrics.get("numOutputRows", 0)
    for k in kids:
        walk_plan(k, acc)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks that ran under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else []):
            st = tracker.getStageInfo(s)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "task_failures": failed}


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


# --------------------------------------------------------------------------
# /proc: the JVM and its Python workers
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class ProcSampler:
    """Background thread that sums the resident set of the JVM and every
    process below it (the Python daemon and its forked workers) every
    ``interval`` seconds, keeps the peak since the last :meth:`reset`, and
    counts distinct Python worker pids seen over its lifetime."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_total = 0
        self.peak_py = 0
        self.worker_pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak_total = self.peak_py = 0

    def sample(self) -> None:
        py, todo = [], _children(self.jvm_pid)
        while todo:
            p = todo.pop()
            py.append(p)
            todo.extend(_children(p))
        py_rss = sum(_rss_bytes(p) for p in py)
        self.peak_py = max(self.peak_py, py_rss)
        self.peak_total = max(self.peak_total, _rss_bytes(self.jvm_pid) + py_rss)
        self.worker_pids.update(py)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# Host witnesses (recorded, never gated)
# --------------------------------------------------------------------------

def host_witnesses() -> dict:
    """Streaming copy bandwidth (GB/s, best of 3 over 64 MB) and fresh-page
    first-touch cost (µs per 4 KiB page over 32 MiB)."""
    a = np.ones(8_000_000)
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        b = a.copy()
        dt = time.perf_counter() - t0
        del b
        best = max(best, 2 * a.nbytes / dt / 1e9)
    pages = (32 << 20) >> 12
    t0 = time.perf_counter()
    buf = np.empty(pages * 512)
    buf[::512] = 1.0
    fault_us = (time.perf_counter() - t0) / pages * 1e6
    del buf
    return {"membw_gbs": best, "fault_us": fault_us}
