"""Spans recorded around the harness's calls into the program, and the
Spark REST figures of the jobs those calls ran.

A span is (name, start, end, parent id, pass id). Spans stay in memory
and are written out once, when the run ends. A span's self time is its
duration minus the part of it that its children cover.
"""

from __future__ import annotations

import datetime
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """``span.duration`` minus the union of the children's intervals,
    clipped to the span."""
    covered, reach = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, reach), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return span.duration - covered


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None):
        parent = self._open[-1] if self._open else None
        if pass_id is None and parent is not None:
            pass_id = parent.pass_id
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, pass_id)
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.duration for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as a JSON list."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        rows = [dict(asdict(s), self_s=self_time(s, kids.get(s.id, [])))
                for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)


def _epoch(stamp: str) -> float:
    """Seconds since the epoch of a REST timestamp such as
    ``2026-01-02T03:04:05.678GMT``."""
    return datetime.datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=datetime.timezone.utc
    ).timestamp()


class SparkRest:
    """Reads job, stage and SQL figures from the Spark UI's REST API."""

    def __init__(self, ui_url: str) -> None:
        self.base = ui_url.rstrip("/") + "/api/v1/applications"
        self.app = self._get("")[0]["id"]

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}{path}", timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, timeout_s: float = 10.0) -> list[dict]:
        """All jobs, once none is running and two reads agree (the UI's
        listener lags the actions that ran the jobs)."""
        deadline = time.time() + timeout_s
        prev = None
        while True:
            jobs = self._get(f"/{self.app}/jobs")
            state = sorted((j["jobId"], j["status"]) for j in jobs)
            if state == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.time() > deadline:
                return jobs
            prev = state
            time.sleep(0.2)

    def pass_figures(
        self, groups: set[str], window: tuple[float, float]
    ) -> dict[str, float]:
        """Job, stage, task, time, GC, shuffle and MapInPandas counts of the
        jobs run under the job groups ``groups``, and of the jobs without a
        group submitted inside ``window`` (epoch seconds): a job started
        from another Python thread does not inherit the group."""

        def ours(j: dict) -> bool:
            if j.get("jobGroup") is not None:
                return j["jobGroup"] in groups
            return window[0] <= _epoch(j["submissionTime"]) <= window[1]

        jobs = [j for j in self.settled_jobs() if ours(j)]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get(f"/{self.app}/stages?status=complete")
            if s["stageId"] in stage_ids
        ]
        execs = self._get(
            f"/{self.app}/sql?details=true&planDescription=false"
            "&offset=0&length=100000"
        )
        udf_execs = sum(
            1
            for e in execs
            if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))
            for n in e.get("nodes", [])
            # a node lists metric values only once it has run: AQE drops
            # the branches it finds empty at run time
            if n["nodeName"] == "MapInPandas" and n["metrics"]
        )
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "udf_execs": udf_execs,
        }
