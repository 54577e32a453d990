"""Spans around the benchmark's calls into the program.

A span records its name, start, end and parent. While a span is open
its Spark jobs run under a job group of its own, so after the run the
job, task and failed-task counts of every span can be read back from
``SparkContext.statusTracker()``. Spans are kept in memory and written
out once, when the run ends. A disabled tracer records nothing and
sets no job group.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

_GROUP = "perfbench-{}"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._origin = time.perf_counter()

    def _set_group(self) -> None:
        if self._stack:
            self.sc.setJobGroup(_GROUP.format(self._stack[-1]), "perfbench")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "name": name, "parent": parent})
        self._stack.append(sid)
        self._set_group()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group()
            self.spans[sid].update(start=t0 - self._origin,
                                   end=t1 - self._origin)

    def finish(self) -> None:
        """Attach Spark job/task counts and self time to every span.

        Waits for the listener bus to drain first: job-end events are
        delivered asynchronously, and a job counted before its event
        arrives would show no tasks."""
        if not self.spans:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in self.spans:
            jobs = st.getJobIdsForGroup(_GROUP.format(s["id"]))
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for stage in (info.stageIds if info else ()):
                    si = st.getStageInfo(stage)
                    if si is not None:
                        tasks += si.numCompletedTasks + si.numFailedTasks
                        failed += si.numFailedTasks
            s.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)
        # children close before their parent, so one pass in id order
        # (parents have lower ids) run backwards accumulates totals
        for s in self.spans:
            s["self_s"] = s["end"] - s["start"]
            for k in ("jobs", "tasks", "failed_tasks"):
                s[f"total_{k}"] = s[k]
        for s in reversed(self.spans):
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                p["self_s"] -= s["end"] - s["start"]
                for k in ("jobs", "tasks", "failed_tasks"):
                    p[f"total_{k}"] += s[f"total_{k}"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def median_ms(self, name: str) -> float:
        """Median duration of the spans called ``name``, in ms; 0 when
        the workload never opened one."""
        d = [(s["end"] - s["start"]) * 1000 for s in self.named(name)]
        return statistics.median(d) if d else 0.0
