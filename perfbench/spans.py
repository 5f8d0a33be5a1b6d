"""Spans around calls into the package, read back from Spark's status store.

A span sets a fresh job group, runs the call, waits until the status
listener has seen every job of the group finish, then sums the group's
stages (run/CPU time, shuffle, spill, tasks) and the SQL executions it
started (plan-node row counts).  Nothing inside ``osmnightwatch_spark``
is touched: everything is read from the outside, around the call.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

UDF_CLUSTER = re.compile(r"EvalPython|InPandas|InArrow|Python")
TERMINAL_JOB = {"SUCCEEDED", "FAILED"}
TERMINAL_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}

#: counters that add up when a layer's self cost is the difference of
#: two nested spans
ADDITIVE = ("wall_s", "jobs", "tasks", "exec_cpu_s", "shuffle_bytes", "spill_bytes",
            "udf_tasks")


@dataclass
class Span:
    layer: str
    wall_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    udf_tasks: int = 0
    task_skew: float = 0.0
    actions: int = 0
    rows_out: int = 0
    plan_rows: dict = field(default_factory=dict)  # plan node name -> output rows


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _rows(text: str) -> int:
    digits = re.sub(r"[^0-9]", "", text or "")
    return int(digits) if digits else 0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self._n = 0

    @contextmanager
    def span(self, layer: str):
        self._n += 1
        group = f"perfbench-{self._n}"
        rec = Span(layer)
        first_exec = self._next_exec_id()
        self.sc.setJobGroup(group, layer, False)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s = time.perf_counter() - t0
            self.sc.setJobGroup("perfbench-untraced", "", False)
        self._collect(rec, group, first_exec)

    def _next_exec_id(self) -> int:
        # execution ids are JVM-wide, so they do not restart with a new
        # context; take the next id after the newest one this store holds
        ids = [e.executionId() for e in _seq(self.sql.executionsList())]
        return max(ids) + 1 if ids else 0

    def _wait_jobs(self, group: str) -> list[int]:
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 5.0
        while True:
            jids = list(tracker.getJobIdsForGroup(group))
            infos = [tracker.getJobInfo(j) for j in jids]
            if all(i is not None and i.status in TERMINAL_JOB for i in infos):
                stages = [s for i in infos for s in i.stageIds]
                if all(self.store.lastStageAttempt(s).status().toString() in TERMINAL_STAGE
                       for s in stages):
                    return jids
            if time.monotonic() > deadline:
                return jids
            time.sleep(0.02)

    def _collect(self, rec: Span, group: str, first_exec: int) -> None:
        tracker = self.sc.statusTracker()
        jids = self._wait_jobs(group)
        rec.jobs = len(jids)
        seen = set()
        for j in jids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info is not None else []):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                n = sd.numCompleteTasks()
                rec.tasks += n
                rec.exec_cpu_s += sd.executorCpuTime() / 1e9
                rec.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                rec.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if self._is_udf_stage(sid):
                    rec.udf_tasks += n
                if n >= 2:
                    rec.task_skew = max(rec.task_skew, self._skew(sid, sd.attemptId()))
                elif n == 1:
                    rec.task_skew = max(rec.task_skew, 1.0)
        self._sql_rows(rec, first_exec)

    def _is_udf_stage(self, sid: int) -> bool:
        todo = [self.store.operationGraphForStage(sid).rootCluster()]
        while todo:
            c = todo.pop()
            if UDF_CLUSTER.search(c.name()):
                return True
            todo.extend(_seq(c.childClusters()))
        return False

    def _skew(self, sid: int, attempt: int) -> float:
        summ = self.store.taskSummary(sid, attempt, self._q)
        if not summ.isDefined():
            return 0.0
        run = summ.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def _sql_rows(self, rec: Span, first_exec: int) -> None:
        for ex in _seq(self.sql.executionsList()):
            eid = ex.executionId()
            if eid < first_exec:
                continue
            rec.actions += 1
            values = {t._1(): t._2() for t in _seq(self.sql.executionMetrics(eid).toSeq())}
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    if m.name() == "number of output rows":
                        key = node.name()
                        rec.plan_rows[key] = (rec.plan_rows.get(key, 0)
                                              + _rows(values.get(m.accumulatorId())))
