"""Spans around calls into the library's layers, with Spark's own counters.

A :class:`Tracer` is created per run, disabled.  While disabled,
:meth:`Tracer.call` only calls the function; the end-to-end metrics are
measured that way.  Once enabled, every call becomes a span (name, start,
end, parent, op id) and a returned DataFrame is materialised inside the
span with an eager ``localCheckpoint``, so the layer's own work is timed at
its boundary and the next layer reads the materialised rows.  After each span the tracer reads,
from the Spark driver's in-process status stores, the stages, jobs and SQL
executions that started inside it:

* ``statusStore().stageList(...)`` for executor CPU, run time, GC, shuffle
  bytes, spill, task and failed-task counts;
* ``taskList(...)`` for the run-time skew of the stages that read a shuffle;
* ``sharedState().statusStore()`` ``planGraph``/``executionMetrics`` for the
  Python operators of each executed plan (worker boot, init and run time,
  bytes sent to and returned from Python).

Spans are kept in memory and written when the run ends.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

#: SQL metric name -> counter key, for plan nodes that run Python workers
PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
}

#: physical operators that hand rows to Python workers (MapInPandas,
#: MapInArrow, ArrowEvalPython, FlatMapGroupsInPandas, ...)
_PY_NODE = re.compile(r"Pandas|Arrow|Python")


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    task_times_ms: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0
        self.t0 = time.perf_counter()

    def enable(self) -> None:
        """Start recording spans and Spark counters from here on."""
        sc = self.spark.sparkContext
        self._app = sc._jsc.sc().statusStore()
        self._sql = self.spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen = self._marks()
        self.enabled = True

    # ------------------------------------------------------------ spans

    def call(self, name: str, fn, *args, **kwargs):
        """Call ``fn``; when tracing, inside a span, materialising a returned
        DataFrame before the span closes."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name):
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
        return out

    @contextmanager
    def span(self, name: str):
        """Record the enclosed code as a span named ``name``."""
        if not self.enabled:
            yield
            return
        self._collect_into(self._current())
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op, parent, time.perf_counter() - self.t0))
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            idx = self._stack.pop()
            self._collect_into(self.spans[idx])
            self.spans[idx].end = time.perf_counter() - self.t0

    def disable(self) -> None:
        self.enabled = False

    @contextmanager
    def paused(self):
        """Run measurement work whose Spark stages no span should count."""
        self._collect_into(self._current())
        self.enabled = False
        try:
            yield
        finally:
            self._seen = self._marks()
            self.enabled = True

    def _current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    # ---------------------------------------------------- spark counters

    def _marks(self) -> tuple[int, int, int]:
        """Highest stage, job and SQL execution ids seen so far."""
        stages, jobs, execs = self._stage_list(), self._app.jobsList(None), self._sql.executionsList()
        return (
            stages.apply(0).stageId() if stages.size() else -1,
            jobs.apply(0).jobId() if jobs.size() else -1,
            execs.apply(execs.size() - 1).executionId() if execs.size() else -1,
        )

    def _stage_list(self):
        # all five arguments must be passed over py4j (no Scala defaults);
        # the list comes newest first, as does jobsList
        return self._app.stageList(None, False, False, self._no_quantiles, None)

    def _collect_into(self, span: Span | None) -> None:
        """Attribute every stage, job and SQL execution started since the
        last collection to ``span`` (the innermost open span), so that each
        is counted once and a parent's counters are its self counters."""
        stage_mark, job_mark, exec_mark = self._seen
        c = span.counters if span is not None else {}
        stages = self._stage_list()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= stage_mark:
                break
            if s.status().toString() == "SKIPPED":
                continue
            _add(c, "spark.executor_cpu_s", s.executorCpuTime() / 1e9)
            _add(c, "spark.executor_run_s", s.executorRunTime() / 1e3)
            _add(c, "spark.gc_s", s.jvmGcTime() / 1e3)
            _add(c, "spark.shuffle_write_bytes", s.shuffleWriteBytes())
            _add(c, "spark.shuffle_read_bytes", s.shuffleReadBytes())
            _add(c, "spark.spill_bytes", s.memoryBytesSpilled() + s.diskBytesSpilled())
            _add(c, "spark.tasks", s.numCompleteTasks())
            _add(c, "spark.failed_tasks", s.numFailedTasks())
            if span is not None and s.shuffleReadBytes() > 0 and s.numTasks() > 1:
                tasks = self._app.taskList(s.stageId(), s.attemptId(), 1 << 30)
                for j in range(tasks.size()):
                    m = tasks.apply(j).taskMetrics()
                    if m.isDefined():
                        span.task_times_ms.append(m.get().executorRunTime())
        jobs = self._app.jobsList(None)
        n_jobs = 0
        while n_jobs < jobs.size() and jobs.apply(n_jobs).jobId() > job_mark:
            n_jobs += 1
        _add(c, "spark.jobs", n_jobs)
        execs = self._sql.executionsList()
        i = execs.size() - 1
        while i >= 0 and execs.apply(i).executionId() > exec_mark:
            self._python_nodes(execs.apply(i).executionId(), c)
            i -= 1
        self._seen = self._marks()

    def _python_nodes(self, eid: int, c: dict) -> None:
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            if not _PY_NODE.search(nodes.apply(i).name()):
                continue
            metrics = nodes.apply(i).metrics()
            names = {metrics.apply(j).name(): metrics.apply(j) for j in range(metrics.size())}
            if "time to run Python workers" not in names:
                continue
            _add(c, "python.ops", 1)
            for metric_name, key in PY_METRICS.items():
                m = names.get(metric_name)
                if m is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    _add(c, key, parse_metric(v.get()))

    # ----------------------------------------------------------- output

    def self_times(self) -> list[float]:
        """Span duration minus the part covered by its direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.wall_s
        return [s.wall_s - c for s, c in zip(self.spans, child)]

    def layer_table(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds, summed counters."""
        table: dict[str, dict] = {}
        for s, self_s in zip(self.spans, self.self_times()):
            row = table.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "task_times_ms": []})
            row["calls"] += 1
            row["total_s"] += s.wall_s
            row["self_s"] += self_s
            row["task_times_ms"] += s.task_times_ms
            for k, v in s.counters.items():
                _add(row, k, v)
        for row in table.values():
            row["task_skew"] = task_skew(row.pop("task_times_ms"))
        return table

    def write(self, path: str, extra: dict) -> None:
        spans = [
            {
                "id": i,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start_s": s.start,
                "end_s": s.end,
                "self_s": self_s,
                "counters": s.counters,
            }
            for i, (s, self_s) in enumerate(zip(self.spans, self.self_times()))
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans, "layers": self.layer_table()}, fh, indent=1)


def _add(d: dict, key: str, v) -> None:
    d[key] = d.get(key, 0) + v


def task_skew(times_ms: list) -> float:
    """max / median task run time; 0 when there are no shuffle-reading tasks."""
    if not times_ms:
        return 0.0
    return max(times_ms) / max(statistics.median(times_ms), 1.0)


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of one SQL metric as the status store renders it: a plain
    ``"2 ms"``/``"848.6 KiB"``/``"100,000"``, or, for metrics with per-task
    statistics, ``"total (min, med, max ...)\\n<total> (...)"``.  Times are
    returned in seconds, sizes in bytes."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)
