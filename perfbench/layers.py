"""Per-layer tracing, measured from outside the package.

Around each call the tracer sets a Spark job group, and after it reads:

- jobs and completed tasks from the application status store.  Jobs are
  attributed by job-id range rather than by group, because the engine
  submits some jobs from its own driver threads (``io.run_jobs``), which
  do not inherit the caller's job group.  The benchmark is a single
  client, so every job after the last one seen belongs to this call.
- SQL metrics (shuffle bytes written, spill, Python worker time and
  bytes) from the SQL status store, the same store
  ``tools/dump_plans.py:_executions`` reads, for every SQL execution the
  call started.

Per-call values are summed per ``<module>.<measure>`` and reported as the
mean over the calls of that module that report the measure (phase timings
such as ``query_s`` come only from the calls that have that phase).
"""

from __future__ import annotations

import math
import re
import time
from collections import defaultdict

_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

# SQL metric name -> the measure it adds to (bytes or seconds).
SQL_MEASURES = {
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}

_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.+?),(\d+),(\w+)\)")


def metric_total(text: str) -> float:
    """Total of one SQL metric as the status store renders it, in bytes,
    seconds or a plain count.  Forms: ``"1491.2 KiB"``, ``"12 ms"``,
    ``"3"``, and for per-task metrics
    ``"total (min, med, max (stageId: taskId))\\n1.2 MiB (0.1 MiB, ...)"``."""
    text = text.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].split()
    value = float(head[0].replace(",", ""))
    if len(head) == 1:
        return value
    unit = head[1]
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    raise ValueError(f"unknown metric unit in {text!r}")


def percentile(values, q: float) -> "float | None":
    """The ``q`` quantile (0 < q < 1) by nearest rank, or None unless at
    least 10 samples lie beyond it on each side that has a tail: p50 needs
    20 samples, p90 needs 100."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < 10 or (q < 0.5 and rank - 1 < 10):
        return None
    return sorted(values)[rank - 1]


class Tracer:
    """Collects per-call layer measures; ``enabled=False`` makes every
    method a no-op so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sums = defaultdict(float)
        self.counts = defaultdict(int)
        self.overhead_s = 0.0
        if not enabled:
            return
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._jobs = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus.waitUntilEmpty()
        self._next_job = self._scan(self._last_job() + 1, self._job)[0]
        self._next_exec = self._scan(self._last_exec() + 1, self._exec)[0]

    def begin(self, group: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(group, group)

    def end(self, module: str, phases: dict) -> None:
        """Attribute everything since the previous ``end`` to ``module``;
        ``phases`` holds the wall seconds the caller timed."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        self._next_job, jobs = self._scan(self._next_job, self._job)
        self._next_exec, execs = self._scan(self._next_exec, self._exec)
        measures = dict.fromkeys(SQL_MEASURES.values(), 0.0)
        measures.update(phases)
        measures["jobs"] = len(jobs)
        measures["tasks"] = sum(j.numCompletedTasks() for j in jobs)
        for eid, ex in execs:
            for measure, v in self._sql_measures(eid, ex).items():
                measures[measure] += v
        for k, v in measures.items():
            self.sums[(module, k)] += v
            self.counts[(module, k)] += 1
        self.overhead_s += time.perf_counter() - t0

    def skip(self) -> None:
        """Drop everything since the previous ``end`` (untimed work)."""
        if self.enabled:
            self._bus.waitUntilEmpty()
            self._next_job = self._scan(self._next_job, self._job)[0]
            self._next_exec = self._scan(self._next_exec, self._exec)[0]

    # Ids are dense, but tolerate a short gap (an id allocated to a job or
    # execution the listener never saw) instead of stalling on it forever.
    _MAX_GAP = 8

    def _scan(self, first: int, fetch):
        """(next id to look at, [found items]) scanning ids from ``first``."""
        found, nid, misses, i = [], first, 0, first
        while misses < self._MAX_GAP:
            item = fetch(i)
            if item is None:
                misses += 1
            else:
                found.append(item)
                nid, misses = i + 1, 0
            i += 1
        return nid, found

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._jobs.job(jid)
        except Py4JJavaError:  # NoSuchElementException: no such job
            return None

    def _exec(self, eid: int):
        ex = self._sql.execution(eid)
        return None if ex.isEmpty() else (eid, ex.get())

    def _last_job(self) -> int:
        jobs = self._jobs.jobsList(None)
        n = jobs.size()
        return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) if n else -1

    def _last_exec(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def _sql_measures(self, eid: int, ex) -> dict:
        out = defaultdict(float)
        wanted = {
            int(acc): SQL_MEASURES[name]
            for name, acc, _kind in _PLAN_METRIC.findall(ex.metrics().toString())
            if name in SQL_MEASURES
        }
        if wanted:
            values = self._sql.executionMetrics(eid)
            for acc, measure in wanted.items():
                v = values.get(acc)
                if not v.isEmpty():
                    out[measure] += metric_total(v.get())
        return out

    def means(self) -> dict:
        """{"<module>.<measure>": mean per reporting call}."""
        return {
            f"{module}.{measure}": total / self.counts[(module, measure)]
            for (module, measure), total in self.sums.items()
        }
