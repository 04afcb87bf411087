"""Spans and Spark status-store counters for the traced run.

Spans are kept in memory and written once at the end of the run.  A
span's self time is its duration minus the part of its interval that its
child spans cover.

Spark counters come from the application status store, which the engine
keeps with the UI disabled (``sc._jsc.sc().statusStore()``).  The
benchmark tags each traced call with its own job group and reads back the
jobs of that group: stage and task counts, executor run time, GC time,
input, shuffle, spill and output bytes, plus the persisted RDDs.  Nothing
in the engine changes for this.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, reach)
        if b > a:
            total += b - a
            reach = b
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans of one run, sharing one run id."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        s = Span(name, time.perf_counter(), parent=parent, attrs=attrs)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def self_time(self, i: int) -> float:
        """Duration of span ``i`` minus the union of its children."""
        s = self.spans[i]
        kids = [(c.start, c.end) for c in self.spans if c.parent == i]
        return (s.end - s.start) - covered(kids)

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "run_id": self.run_id, "id": i, "name": s.name,
                    "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
                    "parent": s.parent, "self_s": round(self.self_time(i), 6),
                    **s.attrs,
                }) + "\n")


class StatusStore:
    """Reads per-job-group stage data from Spark's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    @contextmanager
    def group(self, name: str):
        """Tag every job the block submits with job group ``name``."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _drain(self) -> None:
        # listener events are applied asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def group_stats(self, name: str) -> dict:
        """Counters of the jobs in group ``name`` (skipped stages excluded).

        ``busy_s`` is the wall time during which at least one of the
        group's stages was running (the union of stage intervals).
        """
        self._drain()
        store = self._jsc.statusStore()
        empty = self._jvm.java.util.ArrayList
        stage_ids: set[int] = set()
        jobs = store.jobsList(empty())
        n_jobs = 0
        for j in [jobs.apply(i) for i in range(jobs.size())]:
            g = j.jobGroup()
            if g.isDefined() and g.get() == name:
                n_jobs += 1
                ids = j.stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = dict.fromkeys(
            ("stages", "tasks", "task_s", "gc_s", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "output_bytes", "busy_s"), 0)
        out["jobs"] = n_jobs
        intervals = []
        stages = store.stageList(
            empty(), False, False,
            self.sc._gateway.new_array(self._jvm.double, 0), empty())
        for s in [stages.apply(i) for i in range(stages.size())]:
            if s.stageId() not in stage_ids or \
                    s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["input_bytes"] += s.inputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
            out["output_bytes"] += s.outputBytes()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        out["busy_s"] = covered(intervals) / 1000.0
        return out

    def persisted(self) -> tuple[int, int]:
        """(persisted RDD count, bytes they hold in memory and on disk)."""
        self._drain()
        n = self._jsc.getPersistentRDDs().size()
        rdds = self._jsc.statusStore().rddList(True)
        used = sum(
            r.memoryUsed() + r.diskUsed()
            for r in [rdds.apply(i) for i in range(rdds.size())]
        )
        return n, used
