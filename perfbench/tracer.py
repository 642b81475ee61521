"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent). Spans opened with
``jobs=True`` tag every Spark job started inside them with a job group
and read the exact job / stage / task counts back from
``SparkContext.statusTracker()`` when they close (the session runs with
the UI disabled, so the tracker is the only in-process source). Spans
opened with ``walk=<dir>`` record the files and bytes that appeared or
changed under that directory while they were open.

The tracer is a no-op when disabled, so the timed runs carry none of its
cost. When enabled it times its own bookkeeping (job-group tagging,
tracker reads, directory walks), which is the tracing overhead the
report states.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from pathlib import Path


def _snapshot(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self._group_prefix = f"perfbench-{uuid.uuid4().hex[:8]}"

    @contextmanager
    def span(self, name: str, jobs: bool = False, walk: Path | None = None, **attrs):
        if not self.enabled:
            yield {}
            return
        t = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = f"{self._group_prefix}-{rec['id']}"
        if jobs:
            self.sc.setJobGroup(group, name)
        before = _snapshot(walk) if walk is not None else None
        self.overhead_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            if jobs:
                rec.update(self._job_counts(group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if before is not None:
                after = _snapshot(walk)
                written = [p for p, v in after.items() if before.get(p) != v]
                rec["files_written"] = len(written)
                rec["bytes_written"] = sum(after[p][0] for p in written)
            self.overhead_s += time.perf_counter() - t

    def _job_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    # ------------------------------------------------------------ analysis
    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + self.duration(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self.duration(s) - child_time.get(s["id"], 0.0)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        path.write_text(json.dumps({"spans": rows, "overhead_s": self.overhead_s}, indent=1))
