"""Per-call accounting for the benchmark: job-group counts on every run,
spans and REST stage metrics on the traced run.

Each public engine call made by a workload runs inside ``Recorder.call``,
which tags its Spark jobs with a unique job group. Right after the call,
Spark's status tracker gives the jobs, stages and tasks that group ran.
On the traced run the recorder also keeps a span per call and, after the
pass, reads each stage's executor metrics from the UI's REST API.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Recorder:
    """Collects, per pass, one record per engine call."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.traced = traced
        self.spans: list[dict] = []
        self.calls: list[dict] = []  # one per call: name, pass, start, end, counts, stage ids
        self._seen_stages: set[int] = set()
        self._parent: str | None = None
        self.pass_id: str | None = None  # set by the caller for each pass

    def _keep_span(self, name: str, start: float, end: float, parent: str | None) -> None:
        if self.traced:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "pass": self.pass_id})

    @contextmanager
    def span(self, name: str):
        """A span with no job accounting: set-up phases and whole passes."""
        parent, self._parent = self._parent, name
        start = time.time()
        try:
            yield
        finally:
            self._parent = parent
            self._keep_span(name, start, time.time(), parent)

    @contextmanager
    def call(self, name: str):
        """Time one public engine call and count the Spark work it ran."""
        group = f"{name}#{len(self.calls)}"
        self.sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.calls.append({"name": name, "pass": self.pass_id, "start": start,
                               "end": end, "s": end - start, **self._count(group)})
            self._keep_span(name, start, end, self._parent)

    def _count(self, group: str) -> dict:
        stage_ids: list[int] = []
        tasks = failed = 0
        job_ids = self.tracker.getJobIdsForGroup(group)
        for job_id in job_ids:
            job = self.tracker.getJobInfo(job_id)
            for sid in job.stageIds if job else ():
                info = self.tracker.getStageInfo(sid)
                # a stage reused from an earlier call shows up again as
                # skipped; count it only where it ran
                if info is None or sid in self._seen_stages or info.numCompletedTasks == 0:
                    continue
                self._seen_stages.add(sid)
                stage_ids.append(sid)
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {"jobs": len(job_ids), "stages": len(stage_ids), "tasks": tasks,
                "failed_tasks": failed, "stage_ids": stage_ids}

    def scrape(self, pass_id: str) -> None:
        """Add REST stage metrics to every call of ``pass_id`` (traced run)."""
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=60) as resp:
            stages: dict[int, list[dict]] = {}
            for st in json.load(resp):
                stages.setdefault(st["stageId"], []).append(st)
        for call in self.calls:
            if call["pass"] != pass_id:
                continue
            attempts = [a for sid in call["stage_ids"] for a in stages.get(sid, ())]
            call.update(
                shuffle_read_mb=sum(a["shuffleReadBytes"] for a in attempts) / 1e6,
                shuffle_write_mb=sum(a["shuffleWriteBytes"] for a in attempts) / 1e6,
                busy_s=sum(a["executorRunTime"] for a in attempts) / 1e3,
                gc_s=sum(a["jvmGcTime"] for a in attempts) / 1e3,
                spill_mb=sum(a["diskBytesSpilled"] for a in attempts) / 1e6,
                driver_gap_s=driver_gap(call["start"], call["end"], attempts),
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "calls": self.calls}, f, indent=1)


def _epoch(stamp: str) -> float:
    # REST timestamps look like 2024-01-01T00:00:00.123GMT
    return (
        datetime.strptime(stamp.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def driver_gap(start: float, end: float, attempts: list[dict]) -> float:
    """Wall time of [start, end] not covered by any running stage."""
    intervals = sorted(
        (max(start, _epoch(a["submissionTime"])), min(end, _epoch(a["completionTime"])))
        for a in attempts
        if "submissionTime" in a and "completionTime" in a
    )
    covered, reach = 0.0, start
    for lo, hi in intervals:
        lo = max(lo, reach)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return max(0.0, (end - start) - covered)
