"""Tracing for the benchmark's ``--trace 1`` runs, kept in memory.

Two sources, both read from the benchmark process alone:

* **Spans** around calls into the engine's public module functions.
  ``Tracer.wrap`` replaces a module attribute with a timing wrapper;
  the engine's callers look those attributes up at call time, so the
  wrapper sees every call.  A span records name, start, end, parent
  and op id.  A wrapped function that returns a DataFrame is a lazy
  builder: its span times plan building only, and the actions later
  called on that same DataFrame (``collect``/``count``/``toPandas``)
  get spans of the same name, so ``<layer>`` covers build + forcing
  action.  Work a layer defers into a *downstream* action is not
  its own; where the layer is a Python node (``mapInPandas``), its
  worker time is read from the node's SQL metrics instead.
* **Spark counters** from ``sc.statusTracker()``, the core status
  store (per stage) and the SQL status store (per plan node).  They
  work with the UI off.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_ACTIONS = ("collect", "count", "toPandas")

# Spark 4.1 SQL metrics on Python plan nodes (MapInPandas,
# ArrowEvalPython, ...), in the metric-name form the SQL store uses
_PY_METRICS = {
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
    "time to start Python workers": "python.worker_start_s",
    "time to run Python workers": "python.worker_run_s",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def sql_metric_value(text: str) -> float:
    """A SQL-store metric string as a number in s or bytes.  Multi-task
    values read ``total (min, med, max ...)\\n<total> (...)``; a
    single task's value is the bare ``<total>``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        self.node_keys: dict[str, str] = {}   # plan-node key -> layer
        self.returns: dict[int | None, dict] = {}  # op -> {span: value}
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self._timed: dict[tuple, type] = {}  # (class, layer) -> subclass

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else self._root
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "op": self.op, "start": time.perf_counter(),
                   "end": None}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op_span(self, op: int, name: str):
        """The root span of one benchmark op.  Spans opened on other
        threads (the service converts on a helper thread) parent to
        it when their own thread has no open span."""
        self.op = op
        with self.span(name) as rec:
            self._root = rec["id"]
            try:
                yield rec
            finally:
                self._root = None

    def wrap(self, module, attr: str, name: str,
             python_node: bool = False) -> None:
        original = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = original(*args, **kwargs)
            if hasattr(out, "_jdf"):
                if python_node:
                    tracer.node_keys[_top_node_key(out)] = name
                out.__class__ = tracer._timed_class(type(out), name)
            else:
                tracer.returns.setdefault(tracer.op, {})[name] = out
            return out

        wrapper.__wrapped__ = original
        setattr(module, attr, wrapper)

    def _timed_class(self, cls: type, name: str) -> type:
        """``cls`` with its actions timed as spans named ``name``."""
        key = (cls, name)
        if key not in self._timed:
            def make(action):
                base = getattr(cls, action)

                def timed(df, *a, **k):
                    with self.span(name):
                        return base(df, *a, **k)
                return timed
            self._timed[key] = type(cls.__name__, (cls,),
                                    {a: make(a) for a in _ACTIONS})
        return self._timed[key]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its child spans cover."""
        ivs = sorted((max(c["start"], rec["start"]), min(c["end"], rec["end"]))
                     for c in self.children(rec) if c["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def op_totals(self, op: int) -> dict[str, float]:
        """Seconds per span name within one op (actions included)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] == op and s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"])
        return out


def _top_node_key(df) -> str:
    """``udf(args)#id`` of a DataFrame's top plan node: expression ids
    survive into the physical plan, so the key finds the same node in
    the SQL store's plan graph."""
    line = df._jdf.queryExecution().analyzed().toString().splitlines()[0]
    head = line.split(", [", 1)[0]
    return head.split(" ", 1)[1] if " " in head else head


class SparkCounters:
    """Per-op counters: jobs in a job-id window or job groups, their
    stages, and the Python-node SQL metrics of the op's executions."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        """(next job id, SQL execution count): job ids are sequential,
        so two marks bound the jobs and executions between them."""
        return (int(self.sc._jsc.sc().dagScheduler().nextJobId()),
                int(self.sql.executionsCount()))

    def group_jobs(self, group: str) -> list[int]:
        return [int(j) for j in
                self.sc.statusTracker().getJobIdsForGroup(group)]

    def stage_totals(self, jobs: list[int]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        tot = {"spark.jobs": float(len(jobs)), "spark.stages": 0.0,
               "spark.tasks": 0.0, "spark.tasks_failed": 0.0,
               "spark.executor_run_s": 0.0,
               "spark.shuffle_read_bytes": 0.0,
               "spark.shuffle_write_bytes": 0.0, "spark.spill_bytes": 0.0}
        for s in stages:
            try:
                st = self.store.lastStageAttempt(s)
            except Py4JJavaError:
                continue                  # never attempted (skipped)
            if st.status().toString() == "SKIPPED":
                continue
            tot["spark.stages"] += 1
            tot["spark.tasks"] += st.numCompleteTasks()
            tot["spark.tasks_failed"] += st.numFailedTasks()
            tot["spark.executor_run_s"] += st.executorRunTime() / 1e3
            tot["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spark.spill_bytes"] += (st.memoryBytesSpilled()
                                         + st.diskBytesSpilled())
        return tot

    def python_nodes(self, m0, m1, node_keys: dict[str, str]
                     ) -> dict[str, float]:
        """Python-boundary totals over the SQL executions started in
        the window, plus worker run time per keyed layer node."""
        out = {v: 0.0 for v in _PY_METRICS.values()}
        n = m1[1] - m0[1]
        if n <= 0:
            return out
        execs = self.sql.executionsList(m0[1], n)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                desc = node.desc()
                layer = next((v for key, v in node_keys.items()
                              if key in desc), None)
                ms = node.metrics()
                for q in range(ms.size()):
                    metric = ms.apply(q)
                    name = _PY_METRICS.get(metric.name())
                    acc = metric.accumulatorId()
                    if name is None or not values.contains(acc):
                        continue
                    v = sql_metric_value(values.apply(acc))
                    out[name] += v
                    if layer and name == "python.worker_run_s":
                        out[layer] = out.get(layer, 0.0) + v
        return out
