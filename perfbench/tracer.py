"""In-memory spans with per-span Spark job and task counts.

Each span runs its Spark jobs under a job group of its own, so the
status tracker attributes every job to the innermost open span; a span's
totals are its own jobs plus those of its children. Spans are written
out as JSON when the run ends. ``NullTracer`` has the same interface and
records nothing, for untraced runs.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        #: wall time spent in span bookkeeping, not in the traced work
        self.overhead_s = 0.0

    def _drain_listener_bus(self) -> None:
        # job and stage events reach the status store asynchronously
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span['id']}", span["name"])

    def _own_counts(self, span: dict) -> tuple[int, int]:
        jobs = list(self.tracker.getJobIdsForGroup(f"perfbench-{span['id']}"))
        tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = self.tracker.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        span = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else len(self.spans),
            "name": name,
            "attrs": attrs,
            "children": [],
        }
        self.spans.append(span)
        if parent:
            parent["children"].append(span)
        self.stack.append(span)
        self._set_group(span)
        span["start"] = time.perf_counter()
        self.overhead_s += span["start"] - t_in
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self.stack.pop()
            self._drain_listener_bus()
            own_jobs, own_tasks = self._own_counts(span)
            span["jobs"] = own_jobs + sum(c["jobs"] for c in span["children"])
            span["tasks"] = own_tasks + sum(c["tasks"] for c in span["children"])
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - span["end"]

    def root_time_s(self) -> float:
        """Wall time covered by root spans: the traced operations."""
        return sum(duration(s) for s in self.spans if s["parent"] is None)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = sum(c["end"] - c["start"] for c in s["children"])
            out.append({
                "trace_id": s["trace"], "span_id": s["id"], "parent_id": s["parent"],
                "name": s["name"], "attrs": s["attrs"],
                "start_s": s["start"] - t0, "duration_s": dur, "self_s": dur - covered,
                "jobs": s["jobs"], "tasks": s["tasks"],
            })
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def duration(span: dict) -> float:
    return span["end"] - span["start"]
