"""In-memory span recorder for the traced run.

Spans are opened around calls into the engine's public functions (the
engine itself is not edited): ``wrap(module, name, span)`` replaces a
module attribute with a timing shim.  Each span records name, start,
end, parent and the Spark jobs it launched, read from
``SparkContext.statusTracker()``; stages and tasks are derived from the
jobs when the trace is summarised.  Nothing is written until the run
ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    jobs_before: frozenset
    overhead_open: float = 0.0
    end: float = 0.0
    jobs: frozenset = field(default_factory=frozenset)
    overhead_close: float = 0.0


class Tracer:
    """Spans per thread; the stream's foreachBatch runs on its own thread."""

    def __init__(self, sc):
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[Span] = []
        # job groups to count: ungrouped jobs plus any streaming query's
        # run id (a stream tags its jobs with it)
        self.groups: list[str | None] = [None]
        # time spent in span bookkeeping (status-tracker round trips)
        self.overhead_s = 0.0

    def reset(self) -> None:
        """Forget every span so far (call when no span is open)."""
        self.spans.clear()
        self.overhead_s = 0.0

    def job_ids(self) -> frozenset:
        return frozenset(j for g in self.groups for j in self._tracker.getJobIdsForGroup(g))

    def open(self, name: str) -> int:
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        span = Span(name, 0.0, stack[-1] if stack else None, self.job_ids(), self.overhead_s)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        return idx

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.jobs = self.job_ids() - span.jobs_before
        self._local.stack.pop()
        self.overhead_s += time.perf_counter() - span.end
        span.overhead_close = self.overhead_s

    def overhead_within(self, idx: int) -> float:
        span = self.spans[idx]
        return span.overhead_close - span.overhead_open

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.open(name)
                return tracer.spans[self.idx]

            def __exit__(self, *exc):
                tracer.close(self.idx)

        return _Ctx()

    def wrap(self, module, attr: str, name: str, keep: list | None = None) -> None:
        """Replace ``module.attr`` with a shim that records a span per
        call; ``keep`` collects the return values."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if keep is not None:
                keep.append(out)
            return out

        setattr(module, attr, shim)

    def ancestors(self, idx: int):
        p = self.spans[idx].parent
        while p is not None:
            yield p
            p = self.spans[p].parent

    # --- summaries -------------------------------------------------------

    def _children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[idx]
        covered, last = 0.0, s.start
        for c in sorted((self.spans[i] for i in self._children(idx)), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return (s.end - s.start) - covered

    def total(self, prefix: str, self_only: bool = True) -> float:
        return sum(
            self.self_time(i) if self_only else s.end - s.start
            for i, s in enumerate(self.spans)
            if s.name == prefix or s.name.startswith(prefix + ".")
        )

    def jobs(self, prefix: str) -> frozenset:
        out: frozenset = frozenset()
        for s in self.spans:
            if s.name == prefix or s.name.startswith(prefix + "."):
                out |= s.jobs
        return out

    def stages_tasks(self, jobs: frozenset) -> tuple[int, int, list[int]]:
        stages: list[int] = []
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.extend(info.stageIds)
        tasks = 0
        for sid in stages:
            st = self._tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
        return len(stages), tasks, stages

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                     "self_s": self.self_time(i), "jobs": sorted(s.jobs)}
                    for i, s in enumerate(self.spans)
                ],
                fh,
            )


class StageBytes:
    """Shuffle-write and spill bytes per stage from the status REST API
    (the UI is enabled in the traced run only)."""

    def __init__(self, sc):
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._by_stage: dict[int, tuple[int, int]] | None = None

    def _load(self) -> dict[int, tuple[int, int]]:
        if self._by_stage is None:
            with urllib.request.urlopen(f"{self._base}/stages?status=complete", timeout=30) as r:
                rows = json.load(r)
            self._by_stage = {}
            for st in rows:
                shuffle = st.get("shuffleWriteBytes", 0)
                spill = st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                prev = self._by_stage.get(st["stageId"], (0, 0))
                self._by_stage[st["stageId"]] = (prev[0] + shuffle, prev[1] + spill)
        return self._by_stage

    def mb(self, stage_ids: list[int]) -> tuple[float, float]:
        by = self._load()
        sh = sum(by.get(s, (0, 0))[0] for s in stage_ids)
        sp = sum(by.get(s, (0, 0))[1] for s in stage_ids)
        return sh / 2**20, sp / 2**20
