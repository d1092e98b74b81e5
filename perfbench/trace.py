"""Spans, self times and engine counters recorded at the benchmark's
own call boundaries.

Spans nest run > workload > pass > flow > {build, plan, sink}; stream
micro-batches are spans under the sink, placed from the timestamps in
``StreamingQuery.recentProgress``.  Spans live in memory and are
written out with the run record.  A span's self time is its duration
minus the part of it its children cover, so the self times of every
span under a pass add up to the pass's duration.

Counters come from the same boundaries:

* jobs, stages and tasks: a job group per (pass, flow, phase), read
  back with ``statusTracker``;
* SQL metrics of batch actions: every ``QueryExecution`` that finishes
  while a phase runs is captured by a ``QueryExecutionListener``; its
  executed plan is walked with ``AdaptiveSparkPlanExec``,
  ``*QueryStageExec`` and ``CommandResultExec`` unwrapped;
* SQL metrics of stream micro-batches: the SQL status store, one entry
  per micro-batch execution (the listener above sees no micro-batch).
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = self._open(name, layer, time.time(), attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def current(self) -> dict:
        return self._stack[-1]

    def add(self, name: str, layer: str, start: float, end: float, **attrs) -> dict:
        """A span measured elsewhere (a micro-batch), under the open span."""
        s = self._open(name, layer, start, attrs)
        s["end"] = end
        return s

    def _open(self, name, layer, start, attrs) -> dict:
        s = {"id": len(self.spans),
             "parent": self._stack[-1]["id"] if self._stack else None,
             "name": name, "layer": layer, "start": start, "end": None,
             "attrs": attrs}
        self.spans.append(s)
        return s


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the union its children cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids[todo.pop()]:
            out.append(c)
            todo.append(c["id"])
    return out


def layer_self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    """Self time per layer over a span and everything under it."""
    st = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    for s in [by_id[root_id]] + descendants(spans, root_id):
        out[s["layer"]] += st[s["id"]]
    return dict(out)


def progress_batches(progress: list) -> list[dict]:
    """(start, end, durations) per micro-batch from recentProgress."""
    out = []
    for p in progress:
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        d = dict(p["durationMs"])
        out.append({"start": ts, "end": ts + d.get("triggerExecution", 0) / 1000.0,
                    "durations": d,
                    "state": [dict(o.jsonValue()) if hasattr(o, "jsonValue") else dict(o)
                              for o in (p["stateOperators"] or [])]})
    return out


# --- SQL metrics ----------------------------------------------------------

_SCANS = ("FileSourceScanExec", "BatchScanExec", "Scan parquet")

#: layer metric -> (SQL metric name, node filter or None, scale to the unit)
SQL_METRICS = {
    "shuffle.bytes_written": ("shuffle bytes written", None, 1),
    "shuffle.records_written": ("shuffle records written", None, 1),
    "shuffle.write_ms": ("shuffle write time", None, 1e-6),
    "shuffle.fetch_wait_ms": ("fetch wait time", None, 1),
    "shuffle.partitions_read": ("number of partitions", ("AQEShuffleReadExec", "AQEShuffleRead"), 1),
    "broadcast.bytes": ("data size", ("BroadcastExchangeExec", "BroadcastExchange"), 1),
    "broadcast.collect_ms": ("time to collect", None, 1),
    "memory.peak_bytes": ("peak memory", None, 1),
    "memory.spill_bytes": ("spill size", None, 1),
    "sources.files_read": ("number of files read", None, 1),
    "sources.bytes_read": ("size of files read", None, 1),
    "sources.rows_read": ("number of output rows", _SCANS, 1),
    "sources.scan_ms": ("scan time", None, 1),
    "python.run_ms": ("time to run Python workers", None, 1),
    "python.start_ms": ("time to start Python workers", None, 1),
    "python.bytes_sent": ("data sent to Python workers", None, 1),
    "python.bytes_returned": ("data returned from Python workers", None, 1),
    "sinks.bytes_written": ("written output", None, 1),
    "sinks.files_written": ("number of written files", None, 1),
}

_NAME_VALUE = re.compile(r"name: Some\((.*?)\), value: (-?\d+)\)")


def fold_sql_metrics(nodes, totals: dict[str, float], raw: bool = True) -> None:
    """Add (node label, {metric: value}) pairs into layer totals.  Raw
    plan values are scaled to the layer unit; status-store values are
    already parsed into it."""
    for label, values in nodes:
        for key, (name, only, scale) in SQL_METRICS.items():
            if name in values and (only is None or label.startswith(only)):
                totals[key] = totals.get(key, 0) + values[name] * (scale if raw else 1)


def plan_nodes(plan):
    """(class name, {metric: value}) for each node of an executed plan."""
    out, todo = [], [plan]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == "CommandResultExec":
            todo.append(p.commandPhysicalPlan())
            continue
        if cls.startswith("Reused"):
            continue  # the original node is walked where it first appears
        out.append((cls, {n: int(v) for n, v in _NAME_VALUE.findall(p.metrics().toString())}))
        for seq in (p.children(), p.subqueries()):
            it = seq.iterator()
            while it.hasNext():
                todo.append(it.next())
    return out


def plan_shape(plan) -> tuple[int, int]:
    """(nodes, exchanges) of a physical plan, before execution."""
    nodes = plan_nodes(plan)
    return len(nodes), sum(1 for cls, _ in nodes if cls.endswith("ExchangeExec"))


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6}


def _parse_status_value(text: str) -> float | None:
    """Total from a status-store metric string (``1,234``, ``5.0 MiB (...)``)."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME_MS:
        return num * _TIME_MS[unit]
    return num


class SqlCapture:
    """Collects the QueryExecutions finished while tracing is on."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.captured: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)

    def start(self) -> None:
        """Listen from now on, dropping anything captured before."""
        self.spark._jsparkSession.listenerManager().register(self)
        self.drain()

    def stop(self) -> None:
        self.drain()
        self.spark._jsparkSession.listenerManager().unregister(self)

    # QueryExecutionListener (called on the listener bus thread)
    def onSuccess(self, func_name, qe, duration_ns):
        self.captured.append(qe)

    def onFailure(self, func_name, qe, exception):
        self.captured.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def drain(self) -> list:
        """Executions finished since the last drain (waits for the bus)."""
        self.jsc.listenerBus().waitUntilEmpty()
        out, self.captured = self.captured, []
        return out

    def execution_count(self) -> int:
        return int(self._store().executionsCount())

    def status_nodes(self, first: int):
        """(node name, {metric: value}) for executions listed after ``first``."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self._store()
        out = []
        it = store.executionsList(first, 1 << 30).iterator()
        while it.hasNext():
            ex_id = it.next().executionId()
            values = store.executionMetrics(ex_id)
            nodes = store.planGraph(ex_id).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                got = {}
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if values.contains(m.accumulatorId()):
                        v = _parse_status_value(values.apply(m.accumulatorId()))
                        if v is not None:
                            got[m.name()] = v
                out.append((node.name(), got))
        return out

    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages run, tasks and failed tasks of one job group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks + info.numFailedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks, "failed_tasks": failed}
