"""Span tracing for the traced run, recorded from outside the engine.

The tracer wraps public entry points of the engine's classes at run
time (never in the untraced run) and keeps one span per call: name,
start, end, parent and tick id, in memory until the run ends. Spark
jobs are attributed to spans afterwards by submission time, and their
stage metrics are read from the Spark status store, which launches no
job and works with the UI disabled.

Some engine calls run their writes on concurrent Python threads. A span
opened on a thread with no open span of its own takes the main thread's
innermost open span as parent. A job submitted while two sibling spans
overlap cannot be told apart by time; it is attributed to their common
parent and counted in ``ambiguous_jobs``.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    tick: int | None
    depth: int
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # attributed job ids


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    stages: list  # [(stage_id, tasks, run_s, cpu_s, shuffle_bytes)] of stages that ran


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans of wrapped calls and the Spark jobs attributed to them."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.jobs: dict[int, Job] = {}
        self.ambiguous_jobs = 0
        self.tick: int | None = None
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main_stack: list[int] = []
        self._undo: list[tuple[type, str, object]] = []

    # ----- spans -----------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def begin(self, name: str) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self._main_stack and stack is not self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = None
        depth = 0 if parent is None else self.spans[parent].depth + 1
        span = Span(name, time.time(), None, parent, self.tick, depth)
        with self._lock:
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self._stack().pop()

    def wrap(self, cls: type, method: str, name: str, post=None) -> None:
        """Replace ``cls.method`` by a spanned twin; ``post(span, self,
        args, kwargs, result)`` may record attributes of the call."""
        orig = cls.__dict__[method]

        @functools.wraps(orig)
        def spanned(obj, *args, **kwargs):
            span = self.begin(name)
            try:
                result = orig(obj, *args, **kwargs)
            finally:
                self.end(span)
            if post is not None:
                post(span, obj, args, kwargs, result)
            return result

        self._undo.append((cls, method, orig))
        setattr(cls, method, spanned)

    def unwrap_all(self) -> None:
        for cls, method, orig in reversed(self._undo):
            setattr(cls, method, orig)
        self._undo.clear()

    # ----- Spark jobs --------------------------------------------------------

    def collect_jobs(self) -> None:
        """Read every job completed since the last call from the status
        store, with the metrics of its stages, and attribute it to the
        deepest span open at its submission time."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jl = store.jobsList(None)
        fresh = []
        for i in range(jl.size()):
            j = jl.apply(i)
            jid = int(j.jobId())
            if jid in self.jobs or not j.completionTime().isDefined():
                continue  # seen, or still running: read by a later call
            stages = []
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = int(ids.apply(k))
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse earlier shuffle output
                stages.append((
                    sid,
                    int(st.numTasks()),
                    st.executorRunTime() / 1e3,
                    st.executorCpuTime() / 1e9,
                    int(st.shuffleReadBytes()) + int(st.shuffleWriteBytes()),
                ))
            fresh.append(Job(jid, j.submissionTime().get().getTime() / 1e3, stages))
        for job in sorted(fresh, key=lambda x: x.job_id):
            self.jobs[job.job_id] = job
            self._attribute(job)

    def _attribute(self, job: Job) -> None:
        t = job.submitted
        # job times carry millisecond resolution
        hits = [i for i, s in enumerate(self.spans)
                if s.start - 0.002 <= t <= (s.end if s.end is not None else float("inf")) + 0.002]
        if not hits:
            return
        deepest = max(self.spans[i].depth for i in hits)
        cands = [i for i in hits if self.spans[i].depth == deepest]
        if len(cands) > 1:
            self.ambiguous_jobs += 1
            target = self._common_parent(cands)
            if target is None:
                return
        else:
            target = cands[0]
        self.spans[target].jobs.append(job.job_id)

    def _common_parent(self, idxs: list[int]) -> int | None:
        def chain(i):
            out = []
            while i is not None:
                out.append(i)
                i = self.spans[i].parent
            return out

        common = set(chain(idxs[0]))
        for i in idxs[1:]:
            common &= set(chain(i))
        return max(common, key=lambda i: self.spans[i].depth) if common else None

    # ----- summaries ---------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                out.setdefault(s.parent, []).append(i)
        return out

    def inclusive_jobs(self, i: int, kids: dict[int, list[int]]) -> list[int]:
        out, todo = [], [i]
        while todo:
            k = todo.pop()
            out.extend(self.spans[k].jobs)
            todo.extend(kids.get(k, []))
        return out

    def self_time(self, i: int, kids: dict[int, list[int]]) -> float:
        s = self.spans[i]
        return (s.end - s.start) - union_length(
            [(self.spans[k].start, self.spans[k].end) for k in kids.get(i, [])]
        )

    def named(self, name: str, ticks: set | None = None) -> list[int]:
        return [i for i, s in enumerate(self.spans)
                if s.name == name and s.end is not None
                and (ticks is None or s.tick in ticks)]

    def spark_of(self, job_ids: list[int]) -> dict:
        stages: dict[int, tuple] = {}
        for jid in job_ids:
            for st in self.jobs[jid].stages:
                stages[st[0]] = st
        vals = list(stages.values())
        return {
            "stages": len(vals),
            "tasks": sum(v[1] for v in vals),
            "run_s": sum(v[2] for v in vals),
            "executor_cpu_s": sum(v[3] for v in vals),
            "shuffle_bytes": sum(v[4] for v in vals),
        }
