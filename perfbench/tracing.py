"""Spans recorded around the benchmark's calls into the engine, and the
Spark event log read after the run.

Spans live in memory and are summarised when the run ends. A span is
``(track, name, start, end)`` in epoch seconds; a track is one thread of
control (the ingest query, the dashboard client) whose spans nest.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Tracer:
    """Collects spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, str, float, float]] = []
        self._lock = threading.Lock()

    def add(self, track: str, name: str, start: float, end: float) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append((track, name, start, end))

    @contextlib.contextmanager
    def span(self, track: str | None, name: str):
        if not self.enabled or track is None:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.add(track, name, t0, time.time())

    def tracks(self) -> list[str]:
        return sorted({s[0] for s in self.spans})

    def self_times(self, track: str | None = None) -> dict[str, float]:
        """Self time per span name, on ``track`` or on all tracks: each
        span's duration minus the part of it covered by the spans nested
        inside it on the same track."""
        out: dict[str, float] = {}
        by_track: dict[str, list] = {}
        for s in self.spans:
            if track is None or s[0] == track:
                by_track.setdefault(s[0], []).append(s)
        for spans in by_track.values():
            # parents before their children: earlier start, then longer
            spans.sort(key=lambda s: (s[2], -s[3]))
            for i, (_, name, a, b) in enumerate(spans):
                inner = []
                for _, _, c, d in spans[i + 1:]:
                    if c >= b:
                        break
                    if d <= b:
                        inner.append((c, d))
                out[name] = out.get(name, 0.0) + (b - a) - union_length(inner)
        return out

    def self_sum_ratio(self, track: str) -> float:
        """The self times of every span on ``track`` summed, over the
        duration of the track's ``window`` span: 1.0 when the spans nest
        without overlapping and none falls outside the window."""
        window = sum(s[3] - s[2] for s in self.spans if s[0] == track and s[1] == "window")
        return sum(self.self_times(track).values()) / window


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, lo, hi = 0.0, None, None
    for a, b in sorted(intervals):
        if hi is None or a >= hi:
            if hi is not None:
                total += hi - lo
            lo, hi = a, b
        elif b > hi:
            hi = b
    if hi is not None:
        total += hi - lo
    return total


# the SQL metric Spark's Python operators count Arrow input bytes with
PYTHON_BYTES = "data sent to Python workers"


class EventLog:
    """The parts of one uncompressed Spark event log the benchmark uses."""

    def __init__(self, log_dir: str) -> None:
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        if len(paths) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        accum_names: dict[int, str] = {}
        with open(paths[0], encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                    }
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    self.tasks.append({
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "fetch_wait_s": (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000.0,
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "python_bytes": sum(
                            int(a.get("Update") or 0) for a in info.get("Accumulables") or []
                            if accum_names.get(a.get("ID"), a.get("Name", "")).startswith(PYTHON_BYTES)
                        ),
                    })
                elif kind in (
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    _collect_metric_names(ev.get("sparkPlanInfo") or {}, accum_names)

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs.values() if j["end"] is not None and t0 <= j["start"] < t1]

    def tasks_between(self, t0: float, t1: float) -> list[dict]:
        return [t for t in self.tasks if t0 <= t["launch"] < t1]


def _collect_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics") or []:
        out[m.get("accumulatorId")] = m.get("name", "")
    for child in plan.get("children") or []:
        _collect_metric_names(child, out)
