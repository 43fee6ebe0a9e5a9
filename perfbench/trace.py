"""Spans around calls into the program, joined with Spark's own event log.

A ``Tracer`` records one span per timed call (name, start, end, parent, run
id). When tracing is on, every span also tags the Spark jobs it triggers
with ``setJobGroup(<span id>)``, so that jobs read back from the event log
join the span tree as children. Spans stay in memory and are written to a
JSON file when the run ends.

The event log is Spark's built-in listener log (``spark.eventLog.*``): a
local directory, uncompressed. ``read_event_log`` sums task metrics per job:

- ``tasks``, ``cpu_s`` (executor CPU), ``run_s`` (executor run time),
  ``shuffle_write_bytes``, ``output_bytes``;
- ``python_run_s``: the SQL metric "time to run Python workers". In Spark
  4.1 it is a timing metric, reported in milliseconds;
- ``to_python_bytes``: the SQL metric "data sent to Python workers", bytes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

JOB_METRICS = ("tasks", "cpu_s", "run_s", "shuffle_write_bytes",
               "output_bytes", "python_run_s", "to_python_bytes")
PYTHON_RUN = "time to run Python workers"
TO_PYTHON = "data sent to Python workers"


def event_log_conf(log_dir: str) -> dict:
    """Session config that turns on a local, uncompressed event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Times calls; with ``enabled`` it also keeps spans and tags jobs.

    ``timed`` measures wall time the same way whether tracing is on or off,
    so that the traced and untraced runs time identical code."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0
        self.sc = None  # SparkContext whose jobs are tagged

    @contextmanager
    def timed(self, name: str):
        """Yield a ``Span``; its ``start``/``end`` are wall-clock seconds."""
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        span = Span(f"{self.run_id}.{self._n}", name, parent.id if parent else None, 0.0)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(span.id, name, False)
        self._stack.append(span)
        span.start = time.time()
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            if self.enabled:
                self.spans.append(span)
                if self.sc is not None:
                    if parent is not None:
                        self.sc.setJobGroup(parent.id, parent.name, False)
                    else:
                        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str, jobs: list[dict]) -> None:
        """Write the span tree, with event-log jobs as child spans."""
        out = [dict(id=s.id, name=s.name, parent=s.parent, start=s.start,
                    end=s.end, run=self.run_id) for s in self.spans]
        for j in jobs:
            if j["group"] is not None and j["group"].startswith(self.run_id + "."):
                out.append(dict(id=f"{self.run_id}.job{j['job_id']}",
                                name="spark_job", parent=j["group"],
                                start=j["start"], end=j["end"], run=self.run_id,
                                **{k: j[k] for k in JOB_METRICS}))
        with open(path, "w") as f:
            json.dump(out, f)


def _accum(info: dict, name: str) -> float:
    total = 0.0
    for a in info.get("Accumulables", []):
        if a.get("Name") == name and a.get("Update") is not None:
            total += float(a["Update"])
    return total


def read_event_log(log_dir: str) -> list[dict]:
    """One dict per Spark job in every event log under ``log_dir``: its job
    group, start and end (wall-clock seconds) and the summed task metrics of
    its stages."""
    jobs: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_metrics: dict[int, dict] = {}
        app_jobs: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    app_jobs[ev["Job ID"]] = {
                        "job_id": ev["Job ID"],
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in app_jobs:
                        app_jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = stage_metrics.setdefault(
                        ev["Stage ID"], dict.fromkeys(JOB_METRICS, 0.0))
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    m["tasks"] += 1
                    m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    m["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                    m["python_run_s"] += _accum(info, PYTHON_RUN) / 1e3
                    m["to_python_bytes"] += _accum(info, TO_PYTHON)
        for job in app_jobs.values():
            if job["end"] is None:
                continue
            totals = dict.fromkeys(JOB_METRICS, 0.0)
            for sid in job.pop("stages"):
                for k, v in stage_metrics.get(sid, {}).items():
                    totals[k] += v
            job.update(totals)
            jobs.append(job)
    return jobs


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


def span_breakdown(span: Span, jobs: list[dict]) -> dict:
    """Job metrics summed over the span's jobs, and the span's self time:
    its wall minus the union of its jobs (concurrent jobs, such as AQE's
    broadcast jobs, overlap). ``gap_share`` is the part of that union lying
    outside the span, as a share of the wall: self time plus child spans
    misses the wall by exactly this much, and it stays near 0 when the two
    clocks and the job tags agree."""
    mine = [j for j in jobs if j["group"] == span.id]
    out = {k: sum(j[k] for j in mine) for k in JOB_METRICS}
    clipped = [(max(j["start"], span.start), min(j["end"], span.end)) for j in mine]
    covered = union_seconds([(s, e) for s, e in clipped if e > s])
    out["driver_s"] = span.wall - covered
    outside = union_seconds([(j["start"], j["end"]) for j in mine]) - covered
    out["gap_share"] = outside / span.wall if span.wall else 0.0
    return out
