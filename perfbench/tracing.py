"""Spans recorded from the benchmark's own code, and Spark event-log counters.

A span has a name, start, end, parent and run id. Spans stay in memory
and are written out when the run ends. Self time is a span's duration
minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            self._stack.pop()

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Trace every call of ``module.attr`` made while the block runs."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def with_self_time(self) -> list[dict]:
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [{**s, "self_s": s["end"] - s["start"] - child_s.get(s["id"], 0.0)}
                for s in self.spans]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "run_id": self.run_id, "spans": self.with_self_time()}, f)


class EventLog:
    """Jobs, stages and tasks parsed from one Spark event-log file."""

    def __init__(self, path: str) -> None:
        self.jobs: list[dict] = []
        self.tasks: list[dict] = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs.append({"submit": ev["Submission Time"] / 1000.0,
                                      "stages": set(ev["Stage IDs"])})
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })

    @classmethod
    def from_dir(cls, log_dir: str) -> EventLog:
        files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        return cls(os.path.join(log_dir, files[0]))

    def summary(self, windows: list[tuple[float, float]], slots: int) -> dict:
        """Counters for the jobs submitted inside any of ``windows``."""
        jobs = [j for j in self.jobs if any(a <= j["submit"] <= b for a, b in windows)]
        stage_ids = set().union(*(j["stages"] for j in jobs)) if jobs else set()
        tasks = [t for t in self.tasks if t["stage"] in stage_ids]
        by_stage: dict[int, list[int]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        widest = max(by_stage.values(), key=len, default=[1])
        wall = sum(b - a for a, b in windows)
        return {
            "jobs": len(jobs),
            "stages": len(by_stage),
            "tasks": len(tasks),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "task_skew": max(widest) / max(statistics.median(widest), 1),
            "busy_frac": sum(t["run_ms"] for t in tasks) / 1000.0 / (wall * slots) if wall else 0.0,
        }
