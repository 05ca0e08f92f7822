"""Spans around calls into the program's modules, recorded from outside.

The program carries no instrumentation of its own; traced runs patch the
module attribute the *caller* looks up (for example
``plans.crawler.assign_discovery_seq``, which the wave loop imported by
name) with a wrapper that opens a span. Each span holds its name, start,
end, parent, wave, and the Spark jobs and tasks submitted while it was
open. Spans stay in memory and are written as one JSON file at exit.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class JobCounter:
    """Spark jobs and tasks between two points, from the status tracker.

    Jobs are counted by the highest job id, not by listing length: the
    tracker's retained-job window evicts old entries during long runs.
    A stage is charged to the first job that lists it, so a stage reused
    by a later job (and skipped there) is counted once.
    """

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self._scanned = self.max_job_id()
        self._stage_owner: dict[int, int] = {}
        self._stage_tasks: dict[int, int] = {}

    def max_job_id(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None) or []
        return max(ids) if ids else -1

    def _scan(self, upto: int) -> None:
        for job in range(self._scanned + 1, upto + 1):
            info = self.tracker.getJobInfo(job)
            for sid in (info.stageIds if info else ()):
                if sid in self._stage_owner:
                    continue
                st = self.tracker.getStageInfo(sid)
                self._stage_owner[sid] = job
                self._stage_tasks[sid] = st.numCompletedTasks if st else 0
        self._scanned = max(self._scanned, upto)

    def tasks(self, lo: int, hi: int) -> int:
        """Tasks run by the stages first listed by jobs lo+1 .. hi."""
        self._scan(hi)
        return sum(
            n for sid, n in self._stage_tasks.items() if lo < self._stage_owner[sid] <= hi
        )


class Tracer:
    def __init__(self, jobs: JobCounter):
        self.jobs = jobs
        self.spans: list[dict] = []
        self.wave: int | None = None
        self._stack: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "wave": self.wave,
            "start": time.perf_counter(),
        }
        j0 = self.jobs.max_job_id()
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            j1 = self.jobs.max_job_id()
            sp["jobs"] = j1 - j0
            sp["tasks"] = self.jobs.tasks(j0, j1)

    def patch(self, owner: object, attr: str, name: str, after=None, wave_arg: int | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``after(span, args, result)`` runs once the span is closed, so what
        it reads (files on disk, for example) is not charged to the layer.
        ``wave_arg`` names the positional argument that holds the wave
        number; spans opened inside the call are tagged with it.
        """
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            outer = tracer.wave
            if wave_arg is not None:
                tracer.wave = args[wave_arg]
            try:
                with tracer.span(name) as sp:
                    out = orig(*args, **kwargs)
            finally:
                tracer.wave = outer
            if after is not None:
                after(sp, args, out)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, sp: dict) -> float:
        """Span duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == sp["id"]]
        return (sp["end"] - sp["start"]) - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str, **meta) -> None:
        with open(path, "w") as f:
            json.dump({**meta, "spans": self.spans}, f, indent=1, default=str)
