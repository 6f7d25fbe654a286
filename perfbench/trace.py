"""Span recorder for the traced run.

Spans are recorded around calls into the engine's layers by wrapping
their public functions from here — nothing inside the program changes.
Each span keeps name, start, end, parent and run id, plus the number
of Spark jobs that started while it was open (read from the Spark
status tracker; job ids are sequential per SparkContext). Spans stay
in memory and are written once, at exit.

``Tracer.enabled`` switches recording on for the timed operations
only. ``Tracer.wrapper_s`` adds up the time the wrappers spend on
their own bookkeeping (span records, job counts, manifest diffs). It
leaves out the wrapper call frames and any effect on the code being
measured; the full tracing overhead is the difference between the
``timed_s`` of a traced and an untraced run of the same seed.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    jobs: int | None = None
    run: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.enabled = False
        self.wrapper_s = 0.0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- spark scheduler -------------------------------------------------------

    def jobs_started(self) -> int:
        """Jobs started so far in this SparkContext."""
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        return max(ids) + 1 if ids else 0

    def task_counts(self, first_job: int, end_job: int) -> tuple[int, int]:
        """(tasks, failed tasks) over jobs ``[first_job, end_job)``."""
        st = self.spark.sparkContext.statusTracker()
        tasks = failed = 0
        for j in range(first_job, end_job):
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return tasks, failed

    # -- spans -----------------------------------------------------------------

    def open(self, name: str, jobs: bool = False) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, time.perf_counter(), run=self.run_id)
        if jobs:
            s.jobs = self.jobs_started()
            s.start = time.perf_counter()
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        if s.jobs is not None:
            s.jobs = self.jobs_started() - s.jobs
        if self._stack.pop() is not s:
            raise RuntimeError(f"span {s.name} closed out of order")

    def wrap(self, owner, attr: str, name: str, jobs: bool = False, before=None, after=None):
        """Replace ``owner.attr`` by a recording wrapper.
        ``pre = before(args)`` and ``after(span, args, pre)`` run
        untraced and outside the span's timing, e.g. to diff
        manifests. When ``owner`` is a module, every package module
        attribute bound to the same function is rebound too
        (``from x import f`` copies the reference)."""
        orig = getattr(owner, attr)

        def untraced(fn, *a):
            self.enabled = False
            try:
                return fn(*a)
            finally:
                self.enabled = True

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            pre = untraced(before, args) if before is not None else None
            s = self.open(name, jobs)
            self.wrapper_s += s.start - t0
            try:
                result = orig(*args, **kwargs)
            finally:
                self.close(s)
            if after is not None:
                untraced(after, s, args, pre)
            self.wrapper_s += time.perf_counter() - s.end
            return result

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("rootstock_collective_state_sync_spark"):
                    for k, v in list(vars(mod).items()):
                        if v is orig:
                            self._restore.append((mod, k, orig))
                            setattr(mod, k, wrapper)
        return orig

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- analysis --------------------------------------------------------------

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            out = [s for s in out if within.start <= s.start and s.end <= within.end]
        return out

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        it that child spans cover (children never overlap)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child.get(s.id, 0.0)
        return out

    def write(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def mean(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else default
