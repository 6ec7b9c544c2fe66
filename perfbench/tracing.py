"""Tracing for the traced run: spans kept in memory around the calls the
benchmark makes into each layer, and Spark's own status-store counters.

Spans are recorded from the benchmark's side of each public call (the
program itself is not instrumented). ``SparkCounters`` reads the
listener-fed status stores after an action; it triggers no Spark job.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span, None at the root
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = ""

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, i: int) -> float:
        """The span's duration minus the time its direct children cover."""
        kids = sum(s.duration for s in self.spans if s.parent == i)
        return self.spans[i].duration - kids

    def dump(self, path: str) -> None:
        rows = [dict(asdict(s), self_s=self.self_time(i)) for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_PY_NODE = re.compile(r"Python|Pandas|InArrow")


def parse_timing(text: str) -> float:
    """Seconds in a formatted SQL timing metric ("650 ms", "2.6 s", or the
    multi-line "total (min, med, max ...)" form, whose first value is the
    total)."""
    for line in text.splitlines():
        m = re.match(r"\s*([0-9][0-9,.]*)\s*(ns|us|µs|ms|s|min|m|h)\b", line)
        if m:
            return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    return 0.0


class SparkCounters:
    """Windows over the app status stores: ``mark()`` before an action,
    ``read(mark)`` after it gives the jobs, stages, tasks and SQL metrics
    the action produced."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_ids(self) -> set[int]:
        jobs = self.store.jobsList(self.sc._jvm.java.util.ArrayList())
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    def _last_execution(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        ex = self.sql.executionsList(n - 1, 1)
        return ex.apply(0).executionId() if ex.size() else -1

    def mark(self) -> tuple[set[int], int]:
        """The start of a window: the jobs and last SQL execution so far."""
        self._drain()
        return self._job_ids(), self._last_execution()

    def jobs_since(self, mark: tuple[set[int], int]) -> list[int]:
        self._drain()
        return sorted(self._job_ids() - mark[0])

    def read(self, mark: tuple[set[int], int]) -> dict:
        """Counters of every job and SQL execution since ``mark``."""
        jobs = self.jobs_since(mark)
        stage_ids: set[int] = set()
        for j in jobs:
            ids = self.store.job(j).stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        jvm = self.sc._jvm
        empty = jvm.java.util.ArrayList()
        quants = self.sc._gateway.new_array(jvm.double, 2)
        quants[0], quants[1] = 0.5, 1.0
        stages = self.store.stageList(empty, False, False, quants, empty)
        c = dict.fromkeys(
            ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"),
            0.0,
        )
        heaviest = None
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
                continue  # skipped stages (reused shuffle output) ran nothing
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks()
            c["task_run_s"] += s.executorRunTime() / 1e3
            c["task_cpu_s"] += s.executorCpuTime() / 1e9
            c["gc_s"] += s.jvmGcTime() / 1e3
            c["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            c["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            c["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            if heaviest is None or s.executorRunTime() > heaviest.executorRunTime():
                heaviest = s
        c["jobs"] = float(len(jobs))
        c["task_skew"] = self._skew(heaviest, quants) if heaviest is not None else 1.0
        c["python_udf_s"] = self._python_udf_s(mark[1])
        return c

    def _skew(self, stage, quants) -> float:
        opt = self.store.taskSummary(stage.stageId(), stage.attemptId(), quants)
        if not opt.isDefined():
            return 1.0
        d = opt.get().duration()
        med, top = float(d.apply(0)), float(d.apply(1))
        return top / med if med > 0 else 1.0

    def _python_udf_s(self, since_exec: int) -> float:
        """Summed worker start + init + run time of every Python-UDF plan
        node (ArrowEvalPython, MapInPandas, ...) in the window."""
        # A cached plan's nodes appear again under every execution that
        # reads the cache, with the same accumulators: count each once.
        seen: dict[int, float] = {}
        n = self.sql.executionsCount()
        ex = self.sql.executionsList(0, n)
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= since_exec:
                continue
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not _PY_NODE.search(node.name()):
                    continue
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    if m.metricType() == "timing" and "Python" in m.name():
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            seen[m.accumulatorId()] = parse_timing(v.get())
        return sum(seen.values())
