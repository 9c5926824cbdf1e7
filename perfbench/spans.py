"""Per-layer spans for traced runs, recorded from the benchmark's side.

Each span runs its call under its own Spark job group. After a traced run
the tracer reads the span's job IDs from ``statusTracker()`` and the job
times and stage metrics from the driver's REST API
(``<uiWebUrl>/api/v1/applications/<id>/{jobs,stages}``), and reports per
span:

* ``wall_s`` — span duration;
* ``driver_s`` — ``wall_s`` minus the time any of the span's jobs ran;
* ``jobs``, ``tasks`` — jobs run and tasks finished;
* ``busy_s`` — summed executor run time of the span's stages;
* ``shuffle_bytes`` — shuffle bytes those stages wrote.

The engine sets no job group of its own. A span's jobs are those of its
own group, so an enclosing span's ``.self`` figures exclude its children.
Jobs that run on another thread under another group (Structured Streaming
micro-batches) would not be attributed: no traced layer of the current
workloads starts a stream.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

METRICS = ("wall_s", "driver_s", "jobs", "tasks", "busy_s", "shuffle_bytes")


def _epoch(ts: str | None) -> float | None:
    """REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    if not ts:
        return None
    return datetime.strptime(ts.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.api = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.stack: list[dict] = []
        self.spans: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        self._n += 1
        rec = {"name": name, "group": f"perfbench-{self._n}", "children": [],
               "t0": time.time()}
        if self.stack:
            self.stack[-1]["children"].append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned wrapper; returns an undo."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, orig)

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.api}/{path}", timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, timeout: float = 20.0) -> dict[int, dict]:
        """Jobs from the REST API once the listener has caught up: no job
        running and the job count unchanged over two polls."""
        deadline, last = time.time() + timeout, None
        while True:
            jobs = self._get("jobs")
            running = any(j["status"] == "RUNNING" for j in jobs)
            if (not running and len(jobs) == last) or time.time() > deadline:
                return {j["jobId"]: j for j in jobs}
            last = len(jobs)
            time.sleep(0.2)

    def collect(self) -> tuple[dict[str, dict], float]:
        """Per-span metrics of the spans closed since the last call (a
        name seen twice is summed) and the stages' spilled bytes."""
        jobs = self._settled_jobs()
        stages: dict[int, list[dict]] = {}
        for s in self._get("stages"):
            stages.setdefault(s["stageId"], []).append(s)
        tracker = self.sc.statusTracker()
        out: dict[str, dict] = {}
        spill = 0.0
        for rec in self.spans:
            ids = [i for i in tracker.getJobIdsForGroup(rec["group"]) if i in jobs]
            own = [jobs[i] for i in ids]
            # a job lists the shuffle stages it reuses from earlier jobs
            # too; count a stage attempt only under the job it ran for
            ran: dict[tuple[int, int], dict] = {}
            for j in own:
                start = _epoch(j.get("submissionTime"))
                if start is None:
                    continue
                for sid in j["stageIds"]:
                    for a in stages.get(sid, []):
                        submitted = _epoch(a.get("submissionTime"))
                        if submitted is not None and submitted >= start:
                            ran[sid, a["attemptId"]] = a
            stage_rows = list(ran.values())
            wall = rec["t1"] - rec["t0"]
            if rec["children"]:
                wall -= sum(c["t1"] - c["t0"] for c in rec["children"])
            intervals = [(_epoch(j["submissionTime"]), _epoch(j.get("completionTime")) or rec["t1"])
                         for j in own if j.get("submissionTime")]
            m = {
                "wall_s": wall,
                "driver_s": wall - _covered(intervals, rec["t0"], rec["t1"]),
                "jobs": len(own),
                "tasks": sum(j["numCompletedTasks"] + j["numFailedTasks"] + j["numKilledTasks"]
                             for j in own),
                "busy_s": sum(a["executorRunTime"] for a in stage_rows) / 1000.0,
                "shuffle_bytes": sum(a["shuffleWriteBytes"] for a in stage_rows),
            }
            spill += sum(a["memoryBytesSpilled"] + a["diskBytesSpilled"] for a in stage_rows)
            name = rec["name"] + (".self" if rec["children"] else "")
            acc = out.setdefault(name, dict.fromkeys(METRICS, 0))
            for k, v in m.items():
                acc[k] += v
        self.spans = []
        return out, spill
