"""Read Spark's own job, stage and SQL status stores from outside.

Every operation the benchmark runs gets its own job group, so the jobs it
caused can be found afterwards in the application status store (this works
with ``spark.ui.enabled=false``). Stage metrics come from each job's last
stage attempts; Python-worker metrics come from the SQL status store's
plan metrics of the executions those jobs belong to.
"""

from __future__ import annotations

import re
import time
import uuid
from dataclasses import dataclass

_DONE = ("SUCCEEDED", "FAILED")

_UNIT = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


@dataclass
class JobSpan:
    job_id: int
    start_s: float
    end_s: float
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_s: float = 0.0


def metric_value(text: str) -> float:
    """Parse one formatted SQL metric value ("12 ms", "1.5 KiB", or the
    multi-line "total (min, med, max ...)\\n3.4 s (...)" form) into base
    units: seconds for times, bytes for sizes, a plain number otherwise."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class StatusReader:
    """Job-group bookkeeping plus status-store reads for one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # Unique per reader: two readers on one SparkContext never share a group.
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        self._seq = 0

    def group(self, label: str) -> str:
        """Start a fresh job group; jobs submitted from this thread until
        the next call belong to it."""
        self._seq += 1
        g = f"{self._prefix}-{self._seq}-{label}"
        self.sc.setJobGroup(g, label)
        return g

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, group: str, timeout_s: float = 5.0) -> list[JobSpan]:
        """Finished jobs of ``group`` with their stage metrics. The listener
        bus is asynchronous, so wait until the store has seen each job end."""
        out = []
        for jid in self.job_ids(group):
            deadline = time.monotonic() + timeout_s
            while True:
                jd = self._store.job(jid)
                if jd.status().toString() in _DONE and jd.completionTime().isDefined():
                    break
                if time.monotonic() > deadline:
                    raise TimeoutError(f"job {jid} of {group} never finished in the status store")
                time.sleep(0.005)
            span = JobSpan(
                jid,
                jd.submissionTime().get().getTime() / 1000.0,
                jd.completionTime().get().getTime() / 1000.0,
            )
            sids = jd.stageIds()
            for i in range(sids.size()):
                sd = self._store.lastStageAttempt(sids.apply(i))
                span.stages += 1
                span.tasks += sd.numTasks()
                span.run_s += sd.executorRunTime() / 1000.0
                span.cpu_s += sd.executorCpuTime() / 1e9
                span.gc_s += sd.jvmGcTime() / 1000.0
                span.input_bytes += sd.inputBytes()
                span.input_rows += sd.inputRecords()
                span.shuffle_read_bytes += sd.shuffleReadBytes()
                span.shuffle_write_bytes += sd.shuffleWriteBytes()
                span.fetch_wait_s += sd.shuffleFetchWaitTime() / 1000.0
            out.append(span)
        return out

    def python_metrics(self, job_ids: set[int], lookback: int = 32) -> dict[str, float]:
        """Sum of every "... Python workers" plan metric over the SQL
        executions (among the last ``lookback``) that ran any of ``job_ids``."""
        if not job_ids:
            return {}
        n = self._sql.executionsCount()
        k = min(n, lookback)
        execs = self._sql.executionsList(n - k, k)
        out: dict[str, float] = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            ejobs = e.jobs().keySet()
            it = ejobs.iterator()
            mine = False
            while it.hasNext():
                if int(it.next()) in job_ids:
                    mine = True
                    break
            if not mine:
                continue
            ms = e.metrics()
            names = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                if "Python workers" in m.name():
                    names[m.accumulatorId()] = m.name()
            if not names:
                continue
            it = self._sql.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                name = names.get(kv._1())
                if name is not None:
                    out[name] = out.get(name, 0.0) + metric_value(kv._2())
        return out

    def empty_job_s(self, reps: int = 15) -> float:
        """Median wall of a one-task JVM-only job: the dispatch floor."""
        from statistics import median

        jl = self.sc._jvm.java.util.ArrayList()
        jl.add(1)
        walls = []
        for _ in range(reps):
            t = time.perf_counter()
            self.sc._jsc.parallelize(jl, 1).count()
            walls.append(time.perf_counter() - t)
        return median(walls)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
