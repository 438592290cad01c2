"""Spans recorded around public calls, plus Spark job attribution.

A span is (name, start, end, parent, pass id) in epoch seconds, kept in
memory and written out once at the end of a run.  Spans cost two
clock reads per public call and are always recorded, because the
end-to-end op latencies come from them; a traced run turns the Spark UI
on and reads Spark's own job, stage and task metrics from the UI's REST API,
attributing each job to the innermost span whose interval holds its
submission time (or, for task-graph tasks, to the task whose job group it
carries).
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_id: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_id = -1
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record `name` around the block."""
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                  pass_id=self.pass_id, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span | None, **attrs) -> Span:
        """Record a span timed elsewhere (task-graph tasks run concurrently)."""
        idx = None if parent is None else next(
            i for i, s in enumerate(self.spans) if s is parent)
        sp = Span(name, start, end, idx, self.pass_id, attrs)
        self.spans.append(sp)
        return sp

    def of_pass(self, pass_id: int) -> dict[int, Span]:
        """{span index: span} for one pass; `parent` holds such indices."""
        return {i: s for i, s in enumerate(self.spans) if s.pass_id == pass_id}

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as a JSON list."""
        by_idx = dict(enumerate(self.spans))
        rows = [dict(asdict(s), self_s=self_time(by_idx, i)) for i, s in by_idx.items()]
        with open(path, "w") as f:
            json.dump(rows, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(spans: dict[int, Span], idx: int) -> float:
    """Span time minus the part its direct children cover."""
    kids = [(s.start, s.end) for s in spans.values() if s.parent == idx]
    return spans[idx].dur - union_length(kids)


def _epoch(ts: str | None) -> float | None:
    # REST timestamps look like 2026-10-17T03:00:00.123GMT
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted: float
    completed: float
    tasks: int = 0
    failed_tasks: int = 0
    stages: int = 0
    metrics: dict = field(default_factory=dict)


STAGE_FIELDS = {
    "executorRunTime": "executor_run_s",  # ms
    "executorCpuTime": "executor_cpu_s",  # ns
    "jvmGcTime": "gc_s",  # ms
    "executorDeserializeTime": "deserialize_s",  # ms
    "shuffleWriteBytes": "shuffle_write_mb",
    "shuffleReadBytes": "shuffle_read_mb",
    "inputBytes": "input_mb",
    "outputBytes": "output_mb",
    "memoryBytesSpilled": "spill_mb",
    "diskBytesSpilled": "spill_mb",
    "resultSize": "result_mb",
}
_SCALE = {"executorCpuTime": 1e-9, "executorRunTime": 1e-3, "jvmGcTime": 1e-3,
          "executorDeserializeTime": 1e-3}


class SparkRest:
    """Reads finished jobs and stages from the driver's REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seen = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def new_jobs(self, settle_s: float = 0.25, limit_s: float = 10.0) -> list[Job]:
        """Jobs newer than the last call, once the listener has caught up
        (no job running and the newest id unchanged across one settle)."""
        deadline = time.time() + limit_s
        prev = None
        while True:
            raw = [j for j in self._get("/jobs") if j["jobId"] > self.seen]
            newest = max((j["jobId"] for j in raw), default=self.seen)
            running = any(j["status"] == "RUNNING" for j in raw)
            if (not running and newest == prev) or time.time() > deadline:
                break
            prev = newest
            time.sleep(settle_s)
        stages: dict[int, list] = {}
        if raw:
            for st in self._get("/stages"):
                stages.setdefault(st["stageId"], []).append(st)
        jobs = []
        for j in sorted(raw, key=lambda j: j["jobId"]):
            job = Job(j["jobId"], j.get("jobGroup"), _epoch(j.get("submissionTime")) or 0.0,
                      _epoch(j.get("completionTime")) or time.time())
            m = {v: 0.0 for v in STAGE_FIELDS.values()}
            for sid in j["stageIds"]:
                for st in stages.get(sid, []):
                    if st["status"] not in ("COMPLETE", "FAILED"):
                        continue  # skipped stages re-use an earlier job's output
                    job.stages += 1
                    job.tasks += st["numCompleteTasks"] + st["numFailedTasks"]
                    job.failed_tasks += st["numFailedTasks"]
                    for k, name in STAGE_FIELDS.items():
                        m[name] += st.get(k, 0) * _SCALE.get(k, 1.0 / 2**20)
            job.metrics = m
            jobs.append(job)
        self.seen = max(self.seen, newest)
        return jobs


def attribute(jobs: list[Job], spans: dict[int, Span]) -> dict[int, list[Job]]:
    """Map span index → jobs: a job whose group names a task span goes to
    that task; any other job goes to the innermost span holding its
    submission time.  Jobs outside every span (input preparation and
    output checks) land under key -1."""
    by_group = {s.attrs["group_prefix"]: i for i, s in spans.items()
                if "group_prefix" in s.attrs}
    out: dict[int, list[Job]] = {}
    for job in jobs:
        idx = -1
        if job.group:
            idx = next((i for p, i in by_group.items() if job.group.startswith(p)), -1)
        if idx < 0:
            best = None
            for i, s in spans.items():
                if "group_prefix" in s.attrs:
                    continue
                # REST times are whole milliseconds
                inside = s.start - 0.002 <= job.submitted <= s.end + 0.002
                if inside and (best is None or s.dur < spans[best].dur):
                    best = i
            idx = -1 if best is None else best
        out.setdefault(idx, []).append(job)
    return out
