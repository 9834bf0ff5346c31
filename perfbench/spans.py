"""Spans recorded around calls into the engine, and the Spark job
numbers attributed to them.

A span is a named wall-clock window taken in the benchmark's own code.
After a workload ends, ``harvest`` reads the in-process Spark status REST
API once and attributes every job to the span whose window holds the
job's submission time. Attribution by time window (not by job id
watermark, job group or tag) also catches jobs submitted from thread
pools inside a query, which carry no tag. Rules:

- wait until no job is running before reading, so no job is cut short;
- count only the latest attempt of each stage, so a retried stage is
  counted once;
- if the UI's retention cap was reached, some jobs may have been
  evicted: every span's job numbers are nulled and flagged.
"""

from __future__ import annotations

import datetime as _dt
import json
import threading
import time
import urllib.request
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# UI retention for the benchmark session: far above what one run submits,
# so the cap is only ever reached by a defect, which harvest then flags.
RETAINED = 200_000
UI_CONF = {
    "spark.ui.retainedJobs": str(RETAINED),
    "spark.ui.retainedStages": str(RETAINED),
    "spark.sql.ui.retainedExecutions": str(RETAINED),
    "spark.ui.showConsoleProgress": "false",
}
_SLACK_MS = 2.0  # REST times have ms resolution


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    stats: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Keeps spans in memory. ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        s = Span(name, time.time() * 1000.0)
        try:
            yield
        finally:
            s.end_ms = time.time() * 1000.0
            self.spans.append(s)


def parse_rest_time(text: str) -> float:
    """'2026-10-17T03:20:01.123GMT' → epoch milliseconds."""
    t = _dt.datetime.strptime(text[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000.0


def latest_attempts(stages: list[dict]) -> dict[int, dict]:
    """stageId → the stage record with the highest attemptId."""
    out: dict[int, dict] = {}
    for s in stages:
        sid = s["stageId"]
        if sid not in out or s.get("attemptId", 0) > out[sid].get("attemptId", 0):
            out[sid] = s
    return out


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(
    spans: list[Span], jobs: list[dict], stages: list[dict], capped: bool
) -> None:
    """Fill ``span.stats`` from REST job and stage records.

    stats: jobs, task_s (executor run time of the latest attempt of each
    of the span's stages), driver_gap_s (span wall minus the union of its
    job intervals), shuffle_mb (shuffle write), spill_mb (disk spill),
    and ``capped`` — True (with the numbers None) when the retention cap
    was reached."""
    for s in spans:
        s.stats = {"jobs": 0, "task_s": 0.0, "driver_gap_s": s.wall_s,
                   "shuffle_mb": 0.0, "spill_mb": 0.0, "capped": capped}
        if capped:
            s.stats.update(jobs=None, task_s=None, driver_gap_s=None,
                           shuffle_mb=None, spill_mb=None)
    if capped or not spans:
        return
    latest = latest_attempts(stages)
    ordered = sorted(spans, key=lambda s: s.start_ms)
    owned: dict[int, list[dict]] = {}
    for j in jobs:
        sub = parse_rest_time(j["submissionTime"])
        owner = None
        for i, s in enumerate(ordered):
            if s.start_ms - _SLACK_MS <= sub <= s.end_ms + _SLACK_MS:
                owner = i  # later-starting span wins a boundary tie
        if owner is not None:
            owned.setdefault(owner, []).append(j)
    for i, js in owned.items():
        s = ordered[i]
        sids = {sid for j in js for sid in j.get("stageIds", [])}
        recs = [latest[sid] for sid in sids if sid in latest]
        busy = []
        for j in js:
            lo = parse_rest_time(j["submissionTime"])
            hi = parse_rest_time(j["completionTime"]) if j.get("completionTime") else s.end_ms
            busy.append((max(lo, s.start_ms), min(hi, s.end_ms)))
        s.stats.update(
            jobs=len(js),
            task_s=sum(r.get("executorRunTime", 0) for r in recs) / 1000.0,
            driver_gap_s=max(0.0, s.wall_s - _union_ms([b for b in busy if b[1] > b[0]]) / 1000.0),
            shuffle_mb=sum(r.get("shuffleWriteBytes", 0) for r in recs) / 1e6,
            spill_mb=sum(r.get("diskBytesSpilled", 0) for r in recs) / 1e6,
        )


class RestHarvester:
    """Reads jobs and stages from the session's status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.capped = False

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read().decode())

    def wait_idle(self, timeout_s: float = 60.0) -> None:
        deadline = time.monotonic() + timeout_s
        while self._get("/jobs?status=running"):
            if time.monotonic() > deadline:
                raise TimeoutError("Spark jobs still running at harvest")
            time.sleep(0.05)

    def harvest(self, spans: list[Span]) -> None:
        self.wait_idle()
        # the listener bus updates the status store asynchronously: read
        # until two consecutive listings agree
        jobs = self._get("/jobs")
        while True:
            time.sleep(0.2)
            again = self._get("/jobs")
            if again == jobs:
                break
            jobs = again
        stages = self._get("/stages")
        self.capped = len(jobs) >= RETAINED or len(stages) >= RETAINED
        attribute(spans, jobs, stages, self.capped)


class StreamProgress:
    """Records each streaming trigger's ``durationMs`` parts via a
    ``StreamingQueryListener``; ``drain`` waits for every started query's
    termination event, which the listener bus posts after its last
    progress event."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self
        self._lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.progress: list[tuple[float, dict]] = []  # (epoch ms, durationMs)

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with owner._lock:
                    owner.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                ts = _dt.datetime.strptime(p.timestamp[:23], "%Y-%m-%dT%H:%M:%S.%f")
                ms = ts.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000.0
                with owner._lock:
                    owner.progress.append((ms, dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with owner._lock:
                    owner.terminated += 1

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def drain(self, timeout_s: float = 30.0) -> None:
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                if self.terminated >= self.started:
                    return
            if time.monotonic() > deadline:
                raise TimeoutError("streaming listener events not drained")
            time.sleep(0.05)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def summarize(self, span: Span, parts: tuple[str, ...]) -> dict:
        """Trigger count and the summed ``durationMs`` ``parts`` of the
        triggers that started inside ``span``."""
        with self._lock:
            mine = [d for ms, d in self.progress
                    if span.start_ms - _SLACK_MS <= ms <= span.end_ms + _SLACK_MS]
        out = {"triggers": len(mine)}
        for part in parts:
            out[f"{part}_ms"] = float(sum(d.get(part, 0) for d in mine))
        return out
