"""In-memory span recorder and per-op Spark job/stage/task counter.

A span is ``(name, start, end, parent, request_id)``. Spans are kept in
a list while the run goes and written out once, at the end, as JSON
lines. When tracing is off every call is a no-op, so the untraced run
pays nothing but a function call per span.

Spark work is attributed to an op with ``setJobGroup`` on the calling
thread plus ``statusTracker``. Jobs that the engine starts from its own
writer threads carry no group (job-group properties do not follow a
Python thread pool into new JVM threads); since the benchmark has one
client, every group-less job started between the op's start and its
end belongs to that op, so those are counted too.

The status tracker is filled asynchronously by the listener bus, so a
count read the moment an op returns can miss a job whose start event
is still queued, or a stage whose completion is. Both op boundaries
therefore run a one-task marker job and wait until the tracker shows
it finished: listener events are applied in the order they are posted,
so by then every event of the op's jobs has been applied too, and the
marker's job id separates the op's group-less jobs from later ones.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# How long to wait for the status tracker to report a marker job.
MARK_TIMEOUT_S = 60


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._last_mark = -1
        self._group_seq = 0
        self.overhead_s = 0.0   # bookkeeping time outside every span

    @contextmanager
    def span(self, name: str, request_id: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if request_id is None and parent is not None:
            request_id = self.spans[parent]["request_id"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "request_id": request_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _mark(self) -> int:
        """Run a marker job and wait until the tracker has applied its
        end; returns its job id. Leaves no job group set."""
        self._group_seq += 1
        gid = f"perfbench-mark-{self._group_seq}"
        self._sc.setJobGroup(gid, gid)
        self._sc.parallelize([0], 1).count()
        self._clear_group()
        deadline = time.monotonic() + MARK_TIMEOUT_S
        while True:
            ids = self._tracker.getJobIdsForGroup(gid)
            info = self._tracker.getJobInfo(ids[0]) if ids else None
            if info is not None and info.status != "RUNNING":
                return ids[0]
            if time.monotonic() > deadline:
                raise RuntimeError("Spark status tracker did not report "
                                   f"marker job {gid} within "
                                   f"{MARK_TIMEOUT_S} s")
            time.sleep(0.002)

    def _clear_group(self) -> None:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            self._sc.setLocalProperty(key, None)

    def begin_op(self) -> str | None:
        """Tag the Spark jobs of the next op; returns its group id.
        Every job started before this call is marked as seen, so work
        done between ops (set-up, probes) is charged to no op."""
        if not self.enabled:
            return None
        t = time.perf_counter()
        self._last_mark = self._mark()
        self._group_seq += 1
        gid = f"perfbench-{self._group_seq}"
        self._sc.setJobGroup(gid, gid)
        self.overhead_s += time.perf_counter() - t
        return gid

    def end_op(self, gid: str | None) -> dict | None:
        """``{"jobs", "stages", "tasks"}`` the op ran, or None untraced."""
        if gid is None:
            return None
        t = time.perf_counter()
        self._clear_group()
        end = self._mark()
        tr = self._tracker
        jobs = set(tr.getJobIdsForGroup(gid))
        jobs |= {j for j in tr.getJobIdsForGroup(None)
                 if self._last_mark < j < end}
        stages = tasks = 0
        for j in jobs:
            info = tr.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tr.getStageInfo(s)
                if st is not None and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
        self.overhead_s += time.perf_counter() - t
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def self_times(self) -> dict[str, float]:
        """Total self time (duration minus children) per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + \
                (s["end"] - s["start"]) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
