"""Read Spark's status stores from outside the library.

A :class:`StatusReader` takes a :class:`Marker` (the newest SQL
execution id and job id seen so far) before a region of work and, after
it, sums what every SQL execution and job started since the marker did:
jobs, stages, tasks, task run/CPU/GC time, shuffle read/write, spill,
exchange and broadcast nodes, and the bytes that crossed into and out
of Python workers.

The status stores are fed by Spark's asynchronous listener bus, so every
read first drains the bus; without that a loaded host undercounts the
last stages of a region.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """The total of one SQL-UI metric string, in bytes, seconds or a
    plain count.  Multi-task metrics read ``'total (min, med, max …)\\n
    921.0 B (226.0 B, …)'``; single values read ``'921.0 B'``, ``'15 ms'``
    or ``'1,000'``.  The total is the leading value of the last line."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", last)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


@dataclass(frozen=True)
class Marker:
    execution_id: int
    job_id: int


#: plan-node metric name -> counter it adds to
_NODE_METRICS = {
    "shuffle bytes written": "shuffle_write_bytes",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to run Python workers": "py_run_s",
}

COUNTERS = (
    "executions", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "exchanges", "broadcasts", "py_bytes_in", "py_bytes_out", "py_run_s",
    "max_stage_tasks", "task_skew",
)


class StatusReader:
    """Counts of the work a session did since a :class:`Marker`."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def _sql(self):
        return self._spark._jsparkSession.sharedState().statusStore()

    def _app(self):
        return self._sc.statusStore()

    def marker(self) -> Marker:
        self._drain()
        exes = self._sql().executionsList()
        eid = exes.apply(exes.size() - 1).executionId() if exes.size() else -1
        jobs = self._app().jobsList(None)  # newest first
        return Marker(eid, jobs.apply(0).jobId() if jobs.size() else -1)

    def jobs_since(self, marker: Marker) -> list:
        """JobData of every job with an id above the marker's."""
        self._drain()
        jobs = self._app().jobsList(None)  # newest first: read only the new
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= marker.job_id:
                break
            out.append(job)
        return out

    def since(self, marker: Marker) -> dict:
        """Summed counters (see :data:`COUNTERS`) for all work after
        ``marker``.  ``task_skew`` is max/median task run time in the
        stage with the most tasks."""
        c = dict.fromkeys(COUNTERS, 0)
        self._plan_counts(marker, c)
        app = self._app()
        stage_ids = set()
        for job in self.jobs_since(marker):
            c["jobs"] += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        gw = self._spark.sparkContext._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        largest = None
        for sid in sorted(stage_ids):
            attempts = app.stageData(sid, False, None, False, no_quantiles)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if s.numCompleteTasks() == 0:
                    continue  # skipped stage (shuffle reuse): ran no task
                c["stages"] += 1
                c["tasks"] += s.numCompleteTasks()
                c["task_run_s"] += s.executorRunTime() / 1e3
                c["task_cpu_s"] += s.executorCpuTime() / 1e9
                c["gc_s"] += s.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += s.shuffleReadBytes()
                c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                if largest is None or s.numCompleteTasks() > largest.numCompleteTasks():
                    largest = s
        if largest is not None:
            c["max_stage_tasks"] = largest.numCompleteTasks()
            c["task_skew"] = self._skew(largest)
        return c

    def _skew(self, stage) -> float:
        tasks = self._app().taskList(stage.stageId(), stage.attemptId(), 100_000)
        runs = sorted(
            tasks.apply(i).taskMetrics().get().executorRunTime()
            for i in range(tasks.size())
            if tasks.apply(i).taskMetrics().isDefined()
        )
        if not runs:
            return 0.0
        med = runs[len(runs) // 2]
        return runs[-1] / med if med > 0 else 1.0

    def _plan_counts(self, marker: Marker, c: dict) -> None:
        sql = self._sql()
        exes = sql.executionsList()  # oldest first: walk back to the marker
        for i in range(exes.size() - 1, -1, -1):
            eid = exes.apply(i).executionId()
            if eid <= marker.execution_id:
                break
            c["executions"] += 1
            wanted = {}
            nodes = sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                if name == "Exchange":
                    c["exchanges"] += 1
                elif name == "BroadcastExchange":
                    c["broadcasts"] += 1
                ms = node.metrics()
                for k in range(ms.size()):
                    key = _NODE_METRICS.get(ms.apply(k).name())
                    if key is not None:
                        wanted[ms.apply(k).accumulatorId()] = key
            if not wanted:
                continue
            it = sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                key = wanted.get(kv._1())
                if key is not None:
                    c[key] += parse_metric(kv._2())
