"""Outside-in tracer for the benchmark.

The program has no spans of its own, so the tracer records them from
outside: it replaces a public function at the name its caller looks it
up under (a module attribute, or a method on a class) with a wrapper
that opens a span around the call, and puts the original back on
:meth:`Tracer.close`. A span carries a name, start, end, its parent
span and the run id; spans are kept in memory and written once, at the
end of the run.

Spark's own counters come from its in-process status stores, which
work with the UI disabled. Jobs are attributed to an operation by the
range of job ids the operation submitted, not by job group: the
stream execution threads that run foreachBatch sinks do not inherit
the driver thread's job group.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one run. Each thread keeps its own stack of open
    spans; a span opened on a thread with an empty stack (a
    foreachBatch callback) takes the innermost open operation span as
    its parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._op: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        span = Span(next(self._ids), parent.id if parent else None, name, time.perf_counter())
        stack.append(span)
        return span

    def finish(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    def span(self, name: str):
        return _SpanContext(self, name)

    def operation(self, name: str):
        """A span that also parents spans opened on other threads."""
        return _SpanContext(self, name, is_op=True)

    # -- patching ------------------------------------------------------

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span
        called ``name`` around each call."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            span = self.open(name)
            try:
                return original(*args, **kwargs)
            finally:
                self.finish(span)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def close(self) -> None:
        """Undo every patch, newest first."""
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- reading -------------------------------------------------------

    def seconds(self, name: str, within: Span | None = None) -> float:
        """Total inclusive seconds of spans called ``name`` (inside
        operation ``within``, when given)."""
        spans = self.spans
        if within is not None:
            spans = [s for s in spans if within.start <= s.start and s.end <= within.end]
        return sum(s.seconds for s in spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"run": self.run_id, "id": s.id, "parent": s.parent,
                                    "name": s.name, "start": s.start, "end": s.end}) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, is_op: bool = False):
        self.tracer, self.name, self.is_op = tracer, name, is_op
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self.tracer.open(self.name)
        if self.is_op:
            self.tracer._op = self.span
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.finish(self.span)
        if self.is_op:
            self.tracer._op = None


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string to a number: bytes for sizes,
    seconds for timings, the count for sums. Multi-task metrics read
    'total (min, med, max ...)\\n<total> (...)'; the total is used."""
    line = text.split("\n")[-1]
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _scala(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


# SQL metric name -> counter name
SQL_COUNTERS = {
    "time to run Python workers": "python_eval_s",
    "data sent to Python workers": "python_data_sent_bytes",
    "number of written files": "files_written",
    "written output": "bytes_written",
}


@dataclass
class SparkCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    sql: dict = field(default_factory=lambda: dict.fromkeys(SQL_COUNTERS.values(), 0.0))


class StatusReader:
    """Counters of the jobs and SQL executions submitted since the
    last :meth:`mark`."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self.job_mark, self.exec_mark = self._high_water()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _high_water(self) -> tuple[int, int]:
        self._drain()
        jobs = [j.jobId() for j in _scala(self._sc.statusStore().jobsList(None))]
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = [e.executionId() for e in _scala(sql.executionsList())]
        return max(jobs, default=-1), max(execs, default=-1)

    def mark(self) -> None:
        self.job_mark, self.exec_mark = self._high_water()

    def since_mark(self) -> SparkCounters:
        """Counters since the last mark; moves the mark forward."""
        self._drain()
        store = self._sc.statusStore()
        c = SparkCounters()
        stage_ids: set[int] = set()
        top_job = self.job_mark
        for job in _scala(store.jobsList(None)):
            if job.jobId() > self.job_mark:
                c.jobs += 1
                top_job = max(top_job, job.jobId())
                stage_ids.update(_scala(job.stageIds()))
        for sid in stage_ids:
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue
            c.stages += 1
            c.tasks += s.numCompleteTasks()
            c.executor_run_s += s.executorRunTime() / 1e3
            c.executor_cpu_s += s.executorCpuTime() / 1e9
            c.gc_s += s.jvmGcTime() / 1e3
            c.shuffle_bytes += s.shuffleWriteBytes()
            c.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        top_exec = self.exec_mark
        for e in _scala(sql.executionsList()):
            eid = e.executionId()
            if eid <= self.exec_mark:
                continue
            top_exec = max(top_exec, eid)
            values = sql.executionMetrics(eid)
            seen = set()
            for m in _scala(e.metrics()):
                key = SQL_COUNTERS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    c.sql[key] += parse_metric(v.get())
        self.job_mark, self.exec_mark = top_job, top_exec
        return c

    def persisted_rdds(self) -> int:
        return self._sc.getPersistentRDDs().size()
