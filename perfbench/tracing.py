"""Spans around the benchmark's calls into sparksearch, plus exact Spark work
counts per call.

Spans live in the benchmark's own code only: each one wraps a public call
(``build.build_index``, ``daat.daat_topk``, a ``.collect()``, ...) and records
name, start, end, parent and request id. They are kept in memory and written
as JSON lines when the run ends. With tracing off, ``span`` records nothing
and touches no Spark state, so the untraced run measures the bare calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent in the tracer's own bookkeeping (the tracing overhead
        #: added to the traced calls).
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, request: str | None = None, spark: bool = False):
        """Record one span. ``spark=True`` also counts the Spark jobs, stages
        and completed tasks that ran inside it."""
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "request": request}
        self.spans.append(rec)
        if spark:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            before = self._job_ids(None)
            self.sc.setJobGroup(f"span-{rec['id']}", name)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["start"], rec["end"] = t0, t1
            if spark:
                # Jobs started on the call's own thread carry the group; jobs
                # from helper threads (build's concurrent sinks) are ungrouped.
                jobs = self._job_ids(f"span-{rec['id']}") | (self._job_ids(None) - before)
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                rec.update(self._work(jobs))
            self.overhead_s += time.perf_counter() - t1

    def _job_ids(self, group: str | None) -> set[int]:
        # The status store is fed by the asynchronous listener bus: drain it
        # so every finished job of the call is visible before counting.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def _work(self, jobs: set[int]) -> dict:
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def records(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part covered by child spans, summed per
        layer (the span name's prefix before the first dot)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) - child_s[s["id"]]
            out[layer] = out.get(layer, 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
