"""Span tracer for the benchmark's traced runs.

The tracer patches a fixed list of eager entry points (the list is in
``crawl.install_tracer``) from outside the package and records one span
per call, keyed by the calling function. Inside each
wrapper, in the calling thread, it sets the Spark job description to the
span id, so every job Spark runs can be attributed to the innermost open
span afterwards from the status store. Commits run on a thread pool; the
description is a thread-local property, which is why it is set inside the
wrapper and not once per epoch.

The pure helpers (``union_length``, ``self_times``, ``idle_time``) carry
the arithmetic and are unit-tested on synthetic spans.
"""

from __future__ import annotations

import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC_KEY = "spark.job.description"
TAG = "pb:"


@dataclass
class Span:
    sid: int
    name: str
    caller: str
    start: float
    end: float = 0.0
    parent: int | None = None
    detail: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    sid: int | None
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.dur - union_length(clip(kids.get(s.sid, []), s.start, s.end))
        for s in spans
    }


def idle_time(lo: float, hi: float, busy) -> float:
    """Length of [lo, hi] during which none of the ``busy`` intervals runs
    (the driver gap: wall with no Spark job running)."""
    return (hi - lo) - union_length(clip(busy, lo, hi))


@dataclass
class Tracer:
    """Records spans while installed; ``overhead_s`` is the time spent in
    the tracer's own bookkeeping inside the wrappers."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0

    def __post_init__(self):
        self._sc = self.spark.sparkContext
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _open(self, name: str, caller: str, detail: str = "") -> tuple[Span, str | None]:
        # a span opened on a pool thread with nothing open there belongs to
        # the innermost span open on the main thread (commits run on a pool)
        stack = self._stacks.setdefault(threading.get_ident(), [])
        main = self._stacks.get(self._main) or [None]
        parent = stack[-1] if stack else main[-1]
        with self._lock:
            span = Span(len(self.spans), name, caller, time.time(), parent=parent,
                        detail=detail)
            self.spans.append(span)
        stack.append(span.sid)
        prev = self._sc.getLocalProperty(DESC_KEY)
        self._sc.setLocalProperty(DESC_KEY, f"{TAG}{span.sid}")
        return span, prev

    def _close(self, span: Span, prev: str | None) -> None:
        span.end = time.time()
        self._sc.setLocalProperty(DESC_KEY, prev)
        self._stacks[threading.get_ident()].pop()

    @contextmanager
    def span(self, name: str, detail: str = ""):
        """A span opened by the benchmark itself (an analytics leg)."""
        t0 = time.perf_counter()
        span, prev = self._open(name, "perfbench", detail)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield span
        finally:
            t0 = time.perf_counter()
            self._close(span, prev)
            self.overhead_s += time.perf_counter() - t0

    # -- patching ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, detail_arg: int | None = None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            f = sys._getframe(1)
            mod = f.f_globals.get("__name__", "?").replace("web_crawler_spark.", "")
            detail = ""
            if detail_arg is not None and len(args) > detail_arg:
                detail = str(args[detail_arg])
            span, prev = tracer._open(name, f"{mod}:{f.f_code.co_name}", detail)
            t1 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                tracer._close(span, prev)
                tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- status store ----------------------------------------------------------
    def jobs(self, since_ms: float) -> list[Job]:
        """Jobs submitted at or after ``since_ms`` (epoch ms), with their
        stage metrics, attributed to spans by job description."""
        store = self._sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            sub, done = j.submissionTime(), j.completionTime()
            if not sub.isDefined() or sub.get().getTime() < since_ms:
                continue
            desc = j.description()
            d = desc.get() if desc.isDefined() else ""
            job = Job(
                job_id=j.jobId(),
                sid=int(d[len(TAG):]) if d.startswith(TAG) else None,
                start=sub.get().getTime() / 1000.0,
                end=(done.get().getTime() if done.isDefined() else sub.get().getTime()) / 1000.0,
            )
            it = j.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage never attempted (skipped, evicted)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                job.stages += 1
                job.tasks += st.numTasks()
                job.run_s += st.executorRunTime() / 1e3
                job.cpu_s += st.executorCpuTime() / 1e9
                job.gc_s += st.jvmGcTime() / 1e3
                job.shuffle_write_b += st.shuffleWriteBytes()
            out.append(job)
        return sorted(out, key=lambda j: j.job_id)


def jobs_submitted(spark) -> int:
    """Spark jobs the scheduler has accepted so far (untraced job count)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def ancestor_in(spans: list[Span], sid: int | None, wanted: set[int]) -> int | None:
    """The first span on the parent chain of ``sid`` (itself included) that
    is in ``wanted``."""
    while sid is not None:
        if sid in wanted:
            return sid
        sid = spans[sid].parent
    return None


def step_summary(spans: list[Span], jobs: list[Job], steps: list[int],
                 cores: int) -> list[dict]:
    """Per step span: wall, jobs, stages, tasks, executor time, GC, shuffle
    bytes, driver gap and core utilisation. A job belongs to the step its
    span descends from; untagged jobs belong to the step whose interval
    holds their submission."""
    wanted = set(steps)
    by_step: dict[int, list[Job]] = {s: [] for s in steps}
    for job in jobs:
        owner = ancestor_in(spans, job.sid, wanted)
        if owner is None:
            owner = next((s for s in steps
                          if spans[s].start <= job.start <= spans[s].end), None)
        if owner is not None:
            by_step[owner].append(job)
    out = []
    for s in steps:
        sp, js = spans[s], by_step[s]
        run_s = sum(j.run_s for j in js)
        out.append({
            "sid": s,
            "detail": sp.detail,
            "wall_s": sp.dur,
            "jobs": len(js),
            "stages": sum(j.stages for j in js),
            "tasks": sum(j.tasks for j in js),
            "exec_run_s": run_s,
            "exec_cpu_s": sum(j.cpu_s for j in js),
            "gc_s": sum(j.gc_s for j in js),
            "shuffle_write_mb": sum(j.shuffle_write_b for j in js) / 1e6,
            "driver_gap_s": idle_time(sp.start, sp.end, [(j.start, j.end) for j in js]),
            "core_util": run_s / (sp.dur * cores) if sp.dur > 0 else 0.0,
        })
    return out
