"""Per-call timing and, in a traced run, Spark status-store counters.

The benchmark measures the package from outside: every public call
runs through :meth:`Recorder.call`. Untraced, that is a
``perf_counter`` pair and nothing else. Traced, the call also gets its
own job group, and after it returns (outside the timed region) the
recorder reads the application status store for the call's jobs,
stages, tasks and SQL executions.

Counter integrity:

- the session raises the status-store retention limits
  (:data:`TRACE_CONF`), since the store silently drops jobs past
  ``spark.ui.retainedJobs`` (default 1000);
- a call's SQL executions are the ones whose id is above the highest
  id seen before the call, never "the last execution";
- every job id of the group must resolve in the store, or the call
  raises :class:`TraceError`.
"""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field

TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}

COUNTERS = (
    "wall_s",
    "driver_s",
    "jobs",
    "tasks",
    "cpu_s",
    "shuffle_bytes",
    "spill_bytes",
    "input_bytes",
    "bytes_written",
    "py_rows",
    "max_join_rows",
    "scan_tasks",
    "empty_scan_tasks",
)

_PYTHON_NODES = ("Python", "InPandas", "InArrow")


class TraceError(RuntimeError):
    """A traced call's counters could not all be resolved."""


@dataclass
class Span:
    layer: str
    op: str
    wall_s: float
    pass_id: object = None
    counters: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


class Recorder:
    """Runs calls, times them and, when ``traced``, reads their counters."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list = []
        self.errors: list = []  # (op, message) of calls that raised
        self.pass_id = None
        self._n = 0
        if traced:
            sc = spark.sparkContext
            self._sc = sc
            self._store = sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._bus = sc._jsc.sc().listenerBus()

    def call(self, layer: str, op: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)``; record a :class:`Span`; return
        ``fn``'s result. ``fn`` must finish its Spark work before it
        returns (an action, a write, a ``toPandas``)."""
        if not self.traced:
            t0 = time.perf_counter()
            out = self._guarded(op, fn, args, kwargs)
            self.spans.append(Span(layer, op, time.perf_counter() - t0, self.pass_id))
            return out
        self._n += 1
        group = f"perfbench-{self._n}-{op}"
        last_exec = self._last_execution()
        self._sc.setJobGroup(group, f"{layer}:{op}")
        try:
            start_ms = time.time() * 1000.0
            t0 = time.perf_counter()
            out = self._guarded(op, fn, args, kwargs)
            wall = time.perf_counter() - t0
            end_ms = start_ms + wall * 1000.0
        finally:
            self._sc._jsc.clearJobGroup()
        counters = self._counters(group, last_exec, start_ms, end_ms, wall)
        self.spans.append(Span(layer, op, wall, self.pass_id, counters))
        return out

    def note(self, **counts) -> None:
        """Attach workload-side counts (such as candidate and verified
        pairs) to the last span."""
        self.spans[-1].extra.update(counts)

    def _guarded(self, op, fn, args, kwargs):
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # a failing op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.errors.append((op, repr(exc)))
            return None

    # ------------------------------------------------------------ store reads
    def _last_execution(self) -> tuple:
        """(count, highest id) of the SQL executions in the store."""
        n = self._sql.executionsCount()
        if n == 0:
            return 0, -1
        return n, self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def _counters(self, group, last_exec, start_ms, end_ms, wall) -> dict:
        self._bus.waitUntilEmpty()
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        c = dict.fromkeys(COUNTERS, 0)
        c["wall_s"] = wall
        c["jobs"] = len(job_ids)
        intervals = []
        seen_stages: set = set()
        for jid in job_ids:
            try:
                job = self._store.job(jid)
            except Exception as exc:  # py4j surfaces NoSuchElementException
                raise TraceError(f"job {jid} of {group} not in the status store") from exc
            c["tasks"] += job.numCompletedTasks()
            for sid in _seq(job.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                for st in _seq(self._stage_data(sid)):
                    if st.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    c["cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.diskBytesSpilled()
                    c["input_bytes"] += st.inputBytes()
                    c["bytes_written"] += st.outputBytes()
                    if st.inputBytes() > 0:
                        for t in _seq(self._store.taskList(sid, st.attemptId(), 100000)):
                            c["scan_tasks"] += 1
                            m = t.taskMetrics()
                            if m.isDefined() and m.get().inputMetrics().recordsRead() == 0:
                                c["empty_scan_tasks"] += 1
                    sub, done = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime(), done.get().getTime()))
        c["driver_s"] = max(0.0, wall - _union_ms(intervals, start_ms, end_ms) / 1000.0)
        c["py_rows"], c["max_join_rows"] = self._sql_rows(last_exec)
        return c

    def _stage_data(self, sid):
        gw = self._sc._gateway
        empty = gw.jvm.java.util.ArrayList()
        return self._store.stageData(sid, False, empty, False, gw.new_array(gw.jvm.double, 0))

    def _sql_rows(self, last_exec: tuple) -> tuple:
        """Row counts from the SQL executions the call started (ids
        above ``last_exec``): rows fed into Python workers (for every
        Python exec node, the output rows of the nearest descendant
        that counts rows) and the largest join output."""
        total = join_max = 0
        count = self._sql.executionsCount()
        # the store lists executions in id order; retention is raised
        # (TRACE_CONF), so the call's own start at the count seen before
        n_before, last_id = last_exec
        if count <= n_before:
            return 0, 0
        for ex in _seq(self._sql.executionsList(n_before, count - n_before)):
            eid = ex.executionId()
            if eid <= last_id:
                continue
            graph = self._sql.planGraph(eid)
            metrics = {
                kv._1(): kv._2() for kv in _seq(self._sql.executionMetrics(eid))
            }
            nodes = {n.id(): n for n in _seq(graph.allNodes())}
            children: dict = {}
            for e in _seq(graph.edges()):
                children.setdefault(e.toId(), []).append(e.fromId())
            for n in nodes.values():
                if any(k in n.name() for k in _PYTHON_NODES):
                    for child in children.get(n.id(), []):
                        total += _rows_below(child, nodes, children, metrics)
                elif "Join" in n.name():
                    join_max = max(join_max, _rows_below(n.id(), nodes, children, metrics))
        return total, join_max


def _rows_below(nid, nodes, children, metrics) -> int:
    node = nodes[nid]
    for m in _seq(node.metrics()):
        if m.name() == "number of output rows":
            v = metrics.get(m.accumulatorId())
            if v is not None:
                return int(v.replace(",", ""))
    return sum(_rows_below(c, nodes, children, metrics) for c in children.get(nid, []))


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
