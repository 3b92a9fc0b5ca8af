"""Spans around the benchmark's calls into each layer, and the Spark status
store counters read at the same boundaries.

Span timing is always on: it is two clock reads per call and is how the
benchmark times its requests. Counters are the traced passes' extra work:
each counted span runs under its own Spark job group, a query execution
listener records the Catalyst phases of every action, and at the end of
the pass the listener bus is drained and the group's jobs and stages are
read from Spark's status store. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.java_gateway import ensure_callback_server_started

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    attrs: dict = field(default_factory=dict)
    group: str | None = None
    counters: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.counted = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._pending: list[Span] = []
        self._planning = PlanningListener()

    def begin_pass(self, counted: bool) -> None:
        """Count (or not) the spans of the pass that starts; a counted
        pass also records the Catalyst phases of its actions."""
        self.counted = counted
        if counted:
            ensure_callback_server_started(SparkContext._gateway)
            self.spark._jsparkSession.listenerManager().register(
                self._planning)

    @contextlib.contextmanager
    def span(self, name: str, count: bool = False, **attrs):
        """Time the body as one span; with ``count`` (and a traced run)
        attribute the Spark jobs it starts to the span."""
        sp = Span(name=name, start=0.0, id=next(self._ids),
                  parent=self._stack[-1] if self._stack else None,
                  attrs=attrs)
        sc = self.spark.sparkContext
        if count and self.counted:
            sp.group = f"perfbench-{sp.id}"
            sc.setJobGroup(sp.group, name)
        self._stack.append(sp.id)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if sp.group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._pending.append(sp)

    def end_pass(self) -> list[dict]:
        """Drain the listener bus, fill the counters of the pass's
        counted spans and return the Catalyst phases of its actions."""
        if not self.counted:
            return []
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().unregister(
            self._planning)
        store = jsc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        for sp in self._pending:
            sp.counters = stage_counters(store, tracker, sp.group)
        self._pending = []
        actions, self._planning.actions = self._planning.actions, []
        return actions


def stage_counters(store, tracker, group: str) -> dict:
    """Job, task and stage totals of one job group, from the status
    store. Skipped stages (reused shuffle output) count no tasks."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "input_mb": 0.0, "input_rows": 0, "shuffle_read_mb": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "skew": 1.0}
    job_ids = tracker.getJobIdsForGroup(group)
    out["jobs"] = len(job_ids)
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JError:
            continue  # never submitted
        if st.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["task_s"] += st.executorRunTime() / 1e3
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["input_mb"] += st.inputBytes() / MB
        out["input_rows"] += st.inputRecords()
        out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        out["spill_mb"] += (st.memoryBytesSpilled()
                            + st.diskBytesSpilled()) / MB
        if st.numCompleteTasks() > 1:
            out["skew"] = max(out["skew"],
                              task_skew(store, sid, st.attemptId()))
    return out


def task_skew(store, stage_id: int, attempt: int) -> float:
    """max / median task run time of one stage attempt."""
    dist = store.taskSummary(stage_id, attempt, _double_array((0.5, 1.0)))
    if dist.isEmpty():
        return 1.0
    run = dist.get().executorRunTime()
    med, top = run.apply(0), run.apply(1)
    return top / med if med > 0 else 1.0


def _double_array(values):
    arr = SparkContext._gateway.new_array(SparkContext._jvm.double,
                                          len(values))
    for i, v in enumerate(values):
        arr[i] = float(v)
    return arr


class PlanningListener:
    """Catalyst optimization and planning seconds of every action the
    session finishes, read from the QueryPlanningTracker of the action's
    own QueryExecution when Spark reports it to its query execution
    listeners."""

    def __init__(self) -> None:
        self.actions: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.actions.append(_phases(func_name, qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.actions.append(_phases(func_name, qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases(func_name: str, qe) -> dict:
    phases = qe.tracker().phases()
    out = {"action": func_name}
    for key, name in (("optimization", "optimize_s"),
                      ("planning", "plan_s")):
        opt = phases.get(key)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def stored_mb(spark) -> float:
    """Memory plus disk bytes of the RDD and checkpoint blocks held."""
    infos = spark.sparkContext._jsc.sc().statusStore().rddList(True)
    total = 0
    for i in range(infos.size()):
        rdd = infos.apply(i)
        total += rdd.memoryUsed() + rdd.diskUsed()
    return total / MB
