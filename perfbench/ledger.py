"""Per-layer ledger for traced benchmark runs.

A trace hook (``sys.settrace`` plus ``threading.settrace``) opens a
span on every call into a public function of the program's package
and closes it on return. A trace hook rather than a profile hook,
because it sees only Python calls and can drop a frame after its first
event, where a profile hook also sees every C call and every return.
With a profile hook, traced passes ran 18-42% slower than untraced
ones. With the trace hook, the difference is within run-to-run noise.
A span's self time is its wall time minus the time of the spans it
called in the same thread.

Spark jobs are attributed to spans through the job-description local
property: opening or closing a span sets the property of the calling
thread to the innermost open span. Local properties do not reach
threads that the program starts itself (``par.build_concurrently``
runs its builders in a thread pool), so a new thread inherits the span
that was open in the thread that started it, and sets the property
itself.

After each operation the ledger reads the jobs and stages the
operation fired from Spark's in-process status store, which is live
with ``spark.ui.enabled=false``: jobs, stages, tasks, executor run and
CPU time, shuffle bytes, spill, GC time and bytes written. The number
of files written comes from the SQL status store, as the sum of the
"number of written files" metric of the operation's SQL executions.

Nothing here runs in an untraced run.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "global_superstore_data_warehouse_spark"
TAG_PREFIX = "perfbench:"
DESCRIPTION = "spark.job.description"
# generators, coroutines and async generators resume many times per call
_RESUMABLE = 0x20 | 0x80 | 0x200


@dataclass
class _Span:
    id: int
    name: str
    frame: object
    start: float
    child_s: float = 0.0


@dataclass
class OpLedger:
    """What one operation cost, split by span and by engine counter."""

    wall_ms: float = 0.0
    build_ms: float = 0.0
    catalyst_ms: float = 0.0
    eager_jobs: int = 0
    no_job_ms: float = 0.0
    counters: dict = field(default_factory=lambda: defaultdict(float))
    spans: dict = field(default_factory=lambda: defaultdict(lambda: [0, 0.0, 0]))


class Tracer:
    """Span tracer and status-store reader for one SparkContext."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._names: dict = {}
        self._local = threading.local()
        self._span_names: dict[int, str] = {}
        self._next_id = 0
        self._id_lock = threading.Lock()
        self._closed: list[tuple[str, float]] = []
        self._last_job = self._newest_job_id()
        self._seen_stages: set[int] = set()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_execution = self._newest_execution_id()
        self._thread_start = None

    # -- trace hook --------------------------------------------------------

    def _span_name(self, frame) -> str | None:
        code = frame.f_code
        module = frame.f_globals.get("__name__") or ""
        if not module.startswith(PACKAGE + ".") or code.co_flags & _RESUMABLE:
            return None
        qualname = code.co_qualname
        if any(part[:1] in ("_", "<") for part in qualname.split(".")):
            return None
        return module[len(PACKAGE) + 1 :] + "." + qualname

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
            parent = getattr(threading.current_thread(), "_perfbench_parent", None)
            self._local.base = parent
            if parent is not None:
                self._sc.setLocalProperty(DESCRIPTION, TAG_PREFIX + str(parent))
        return stack

    def _thread_trace(self, frame, event, arg):
        """First event of a new thread: adopt the starting thread's span
        before the thread can fire a job, then trace as usual."""
        sys.settrace(self._trace)
        self._stack()
        return self._trace(frame, event, arg)

    def _trace(self, frame, event, arg):
        """Global trace function: sees only calls of Python functions,
        and asks for no more events from frames that are not spans."""
        name = self._names.get(frame.f_code, "")
        if name == "":
            name = self._names[frame.f_code] = self._span_name(frame)
        if name is None:
            return None
        frame.f_trace_lines = False
        self.open(name, frame)
        return self._span_event

    def _span_event(self, frame, event, arg):
        if event == "return":
            self.close()
        return self._span_event

    def open(self, name: str, frame=None) -> int:
        stack = self._stack()
        with self._id_lock:
            self._next_id += 1
            span_id = self._next_id
        self._span_names[span_id] = name
        stack.append(_Span(span_id, name, frame, time.perf_counter()))
        self._sc.setLocalProperty(DESCRIPTION, TAG_PREFIX + str(span_id))
        return span_id

    def close(self) -> None:
        stack = self._local.stack
        span = stack.pop()
        dur = time.perf_counter() - span.start
        if stack:
            stack[-1].child_s += dur
        self._closed.append((span.name, dur - span.child_s))
        current = stack[-1].id if stack else self._local.base
        self._sc.setLocalProperty(
            DESCRIPTION, None if current is None else TAG_PREFIX + str(current)
        )

    def _current_id(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        if stack:
            return stack[-1].id
        return getattr(self._local, "base", None)

    def start(self) -> None:
        tracer = self
        original = threading.Thread.start

        def start_with_parent(thread):
            thread._perfbench_parent = tracer._current_id()
            return original(thread)

        self._thread_start = original
        threading.Thread.start = start_with_parent
        threading.settrace(self._thread_trace)
        sys.settrace(self._trace)

    def stop(self) -> None:
        sys.settrace(None)
        threading.settrace(None)
        if self._thread_start is not None:
            threading.Thread.start = self._thread_start
            self._thread_start = None

    # -- status store ------------------------------------------------------

    def _newest_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _new_jobs(self) -> list:
        """Jobs that started since the last call, oldest first. The
        store lists jobs newest first."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        fresh = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            fresh.append(job)
        if fresh:
            self._last_job = fresh[0].jobId()
        return fresh[::-1]

    def _stage_counters(self, stage_ids, counters) -> None:
        for k in range(stage_ids.size()):
            sid = stage_ids.apply(k)
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            st = self._store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            counters["spark.stages"] += 1
            counters["spark.tasks"] += st.numCompleteTasks()
            counters["spark.executor_run_ms"] += st.executorRunTime()
            counters["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
            counters["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            counters["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            counters["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            counters["spark.gc_ms"] += st.jvmGcTime()
            counters["sources.bytes_written"] += st.outputBytes()

    def _newest_execution_id(self) -> int:
        executions = self._sql.executionsList()
        n = executions.size()
        return executions.apply(n - 1).executionId() if n else -1

    def _files_written(self) -> int:
        """Files written by the SQL executions that started since the
        last call. The store lists executions oldest first."""
        executions = self._sql.executionsList()
        files, newest = 0, self._last_execution
        for i in range(executions.size() - 1, -1, -1):
            execution = executions.apply(i)
            eid = execution.executionId()
            if eid <= self._last_execution:
                break
            newest = max(newest, eid)
            metrics = execution.metrics()
            ids = []
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                if metric.name() == "number of written files":
                    ids.append(metric.accumulatorId())
            if not ids:
                continue
            values = self._sql.executionMetrics(eid)
            for acc in ids:
                value = values.get(acc)
                if value.isDefined():
                    # "16", or "total (min, med, max ...)\n16 (...)"
                    files += int(value.get().split("\n")[-1].split()[0].replace(",", ""))
        self._last_execution = newest
        return files

    def op_ledger(self, t0: float, t1: float, build_end: float) -> OpLedger:
        """Ledger of the operation that ran in epoch seconds [t0, t1]
        and finished building its plan at ``build_end``."""
        led = OpLedger(wall_ms=(t1 - t0) * 1e3, build_ms=(build_end - t0) * 1e3)
        for name, self_s in self._closed:
            rec = led.spans[name]
            rec[0] += 1
            rec[1] += self_s * 1e3
        self._closed.clear()
        intervals = []
        for job in self._new_jobs():
            led.counters["spark.jobs"] += 1
            desc = job.description()
            tag = desc.get() if desc.isDefined() else ""
            if tag.startswith(TAG_PREFIX):
                led.spans[self._span_names[int(tag[len(TAG_PREFIX):])]][2] += 1
            sub = job.submissionTime().get().getTime()
            done = job.completionTime()
            end = done.get().getTime() if done.isDefined() else sub
            intervals.append((max(sub, t0 * 1e3), min(end, t1 * 1e3)))
            if sub <= build_end * 1e3:
                led.eager_jobs += 1
            self._stage_counters(job.stageIds(), led.counters)
        led.no_job_ms = led.wall_ms - _union_ms(intervals)
        led.counters["sources.files_written"] += self._files_written()
        return led


def catalyst_ms(df) -> float:
    """Plan the DataFrame and return its analysis + optimization +
    planning time from the query-planning tracker. The action that
    follows reuses the executed plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isDefined():
            total += summary.get().durationMs()
    return total


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total
