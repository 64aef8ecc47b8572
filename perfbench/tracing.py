"""Spans and per-layer counters for the traced run.

Spans are ``{name, start, end, parent, op_id}`` records kept in memory and
written out when the run ends.  Every span wraps a call the benchmark makes
into the engine (session, catalog, query build, planning, collect) or, via
``wrap_module_functions``, a call into a public function of an engine module.
Counters come from Spark's status tracker (one job group per op execution),
the SQL metrics of the final adaptive plan, a streaming query listener and
the JVM's GC beans.  Nothing here runs in the untraced run."""

from __future__ import annotations

import functools
import inspect
import os
import time
from collections import Counter
from contextlib import contextmanager
from types import ModuleType

from perfbench.stats import self_time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op_id": self.op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, timed_only: bool = False) -> float:
        """Wall time inside spans called ``name``, counting nested calls of
        the same name once (only the outermost one).  ``timed_only`` keeps
        spans that belong to a timed op."""
        out = 0.0
        for rec in self.spans:
            if timed_only and rec["op_id"] is None:
                continue
            if rec["name"] == name and rec["end"] is not None and not self._inside(rec, name):
                out += rec["end"] - rec["start"]
        return out

    def _inside(self, rec: dict, name: str) -> bool:
        parent = rec["parent"]
        while parent is not None:
            if self.spans[parent]["name"] == name:
                return True
            parent = self.spans[parent]["parent"]
        return False

    def self_times(self) -> Counter:
        """Self time per span name: duration minus what child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                children.setdefault(rec["parent"], []).append((rec["start"], rec["end"]))
        out: Counter = Counter()
        for i, rec in enumerate(self.spans):
            if rec["end"] is not None:
                out[rec["name"]] += self_time(rec["start"], rec["end"], children.get(i, []))
        return out


def wrap_module_functions(tracer: Tracer, module: ModuleType, span_name: str) -> None:
    """Record a ``span_name`` span around every public function defined in
    ``module``.  Callers reach them as module attributes, so replacing the
    attribute is enough."""
    for name, fn in list(vars(module).items()):
        if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != module.__name__:
            continue

        @functools.wraps(fn)
        def traced(*args, __fn=fn, **kwargs):
            with tracer.span(span_name):
                return __fn(*args, **kwargs)

        setattr(module, name, traced)


# SQL metric name -> per-layer counter, and the plan nodes it is read from
# (None = any node).
_PLAN_METRICS = (
    ("numFiles", "scan.files_read", "Scan"),
    ("filesSize", "scan.bytes_read", "Scan"),
    ("numOutputRows", "scan.rows_out", "Scan"),
    ("shuffleBytesWritten", "shuffle.bytes_written", None),
    ("shuffleRecordsWritten", "shuffle.records_written", None),
    ("dataSize", "broadcast.bytes", "BroadcastExchange"),
    ("spillSize", "spill.bytes", None),
    ("pythonDataSent", "python.bytes_sent", None),
    ("pythonNumRowsReceived", "python.rows_returned", None),
)


class SparkProbe:
    """Reads engine-side counters through the session's JVM gateway."""

    def __init__(self, spark, scratch_roots: list[str]) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self.scratch_roots = scratch_roots
        self.stream_batches = 0
        self.stream_batch_s = 0.0
        self._listener = _stream_listener(self)
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def job_counts(self, job_ids: list[int]) -> Counter:
        """Jobs, executed stages, tasks and failed tasks of these jobs."""
        out: Counter = Counter(jobs=len(job_ids))
        stages: set[int] = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                out["failed_tasks"] += st.numFailedTasks
        return out

    def plan_metrics(self, df) -> Counter:
        """Sum selected SQL metrics over the final (post-AQE) physical plan,
        its query stages and its subqueries."""
        out: Counter = Counter({name: 0 for _, name, _ in _PLAN_METRICS})
        stack = [df._jdf.queryExecution().executedPlan()]
        seen: set[int] = set()
        while stack:
            node = stack.pop()
            if node.id() in seen:
                continue
            seen.add(node.id())
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):  # shuffle, broadcast, result, cache stages
                stack.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue  # its metrics belong to the exchange it reuses
            metrics = node.metrics()
            keys = set(metrics.keys().mkString("\t").split("\t"))
            for key, name, node_kind in _PLAN_METRICS:
                if key in keys and (node_kind is None or node_kind in cls):
                    out[name] += metrics.apply(key).value()
            for seq in (node.children(), node.subqueries()):
                stack.extend(seq.apply(i) for i in range(seq.size()))
        return out

    def scratch_state(self) -> dict[str, tuple[int, int]]:
        """(size, mtime) of every file under the index/warehouse scratch."""
        state = {}
        for root in self.scratch_roots:
            for dirpath, _, filenames in os.walk(root):
                for f in filenames:
                    path = os.path.join(dirpath, f)
                    try:
                        st = os.stat(path)
                    except FileNotFoundError:
                        continue
                    state[path] = (st.st_size, st.st_mtime_ns)
        return state


def _stream_listener(probe: SparkProbe):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            probe.stream_batches += 1
            probe.stream_batch_s += event.progress.batchDuration / 1000.0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
