"""Spark's own counters for one operator call, read from outside the
program (no UI needed: ``spark.ui.enabled=false`` still feeds the
status stores).

Each traced call runs under its own job group.  After the call the
listener bus is drained and the group's jobs are looked up:

* ``AppStatusStore.job`` — submission/completion times and stage ids;
* ``AppStatusStore.lastStageAttempt`` — tasks, executor run time,
  shuffle and spill bytes (skipped stages count for nothing);
* ``AppStatusStore.taskList`` — per-task run time of the widest stage
  (for ``task_skew``);
* the SQL status store's plan-graph metrics — bytes sent to / returned
  from Python workers and the time to run them.  The store keeps these
  as formatted strings (``'642.4 KiB'``, ``'3.1 s'``), so they carry
  the formatter's precision (about three significant digits).
"""

from __future__ import annotations

import re
import statistics

_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(?:total[^\n]*\n)?\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

PY_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_s",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in bytes, seconds or units."""
    m = _VALUE.match(text or "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def covered_seconds(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[t0, t1]``."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm_sc = self.sc._jsc.sc()
        self._bus = jvm_sc.listenerBus()
        self._store = jvm_sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seq = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def sql_mark(self) -> int:
        return self._sql.executionsCount()

    def read(
        self,
        group: str,
        t0: float,
        t1: float,
        sql_mark: int | None = None,
        skew: bool = False,
    ) -> dict[str, float]:
        """Counters of the jobs in ``group``, a call that ran over
        ``[t0, t1]`` (epoch seconds)."""
        self._bus.waitUntilEmpty()
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        intervals = []
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids.update(self._seq(job.stageIds()))
        out = {
            "jobs": float(len(job_ids)),
            "stages": 0.0,
            "tasks": 0.0,
            "shuffle_bytes": 0.0,
            "spill_bytes": 0.0,
            "exec_s": 0.0,
        }
        widest = None
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
            out["exec_s"] += st.executorRunTime() / 1e3
            if widest is None or st.numCompleteTasks() > widest[0]:
                widest = (st.numCompleteTasks(), sid, st.attemptId())
        out["wall_s"] = t1 - t0
        out["driver_gap_s"] = out["wall_s"] - covered_seconds(intervals, t0, t1)
        if skew:
            out["task_skew"] = self._task_skew(widest)
        if sql_mark is not None:
            out.update(self._python_metrics(sql_mark, job_ids))
        return out

    def _task_skew(self, widest) -> float:
        """max / median task run time in the stage with the most tasks."""
        if widest is None:
            return 0.0
        _, sid, attempt = widest
        times = [
            t.taskMetrics().get().executorRunTime()
            for t in self._seq(self._store.taskList(sid, attempt, 100_000))
            if t.taskMetrics().isDefined()
        ]
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 0.0

    def _python_metrics(self, mark: int, job_ids: set[int]) -> dict[str, float]:
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        n = self._sql.executionsCount()
        # the newest executions; a margin covers any evicted by retention
        k = max(n - mark, 0) + 16
        for ex in self._seq(self._sql.executionsList(max(n - k, 0), k)):
            if not job_ids & set(self._seq(ex.jobs().keySet().toSeq())):
                continue
            eid = ex.executionId()
            values = self._seq(self._sql.executionMetrics(eid))
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                for m in self._seq(node.metrics()):
                    key = PY_METRICS.get(m.name())
                    if key:
                        out[key] += parse_metric(values.get(m.accumulatorId()))
        return out
