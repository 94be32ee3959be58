"""Spans around the benchmark's calls into the engine, and the Spark
event-log summary of the traced mode.

Spans are kept in memory and written once when the run ends. Each has
a name, a start, an end (seconds since the run's clock origin), its
parent span and the process-tree CPU spent inside it. With tracing off
``span`` is a no-op context manager, so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

from proc import tree_cpu


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.exclude: tuple[int, ...] = ()  # pids left out of span CPU
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic() - self._t0, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        c0 = tree_cpu(self.exclude)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self._t0
            rec["cpu_s"] = tree_cpu(self.exclude) - c0
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int,
            **attrs) -> None:
        """Record a span measured elsewhere (``time.monotonic`` values,
        which every process on the host shares)."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": parent, "start": start - self._t0,
                           "end": end - self._t0, **attrs})

    def self_times(self) -> dict[str, float]:
        """Per span name: total self time, the span's duration minus the
        part of it that its children cover (children may overlap: the
        dashboard's requests run concurrently)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            own = s["end"] - s["start"] - covered
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times(),
                       **extra}, f, indent=1)


ENGINE_KEYS = ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
               "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def engine_summary(log_dir: str, t0_ms: float, t1_ms: float) -> dict:
    """Sum the Spark event log's job/stage/task records whose time falls
    inside [t0_ms, t1_ms] (epoch milliseconds)."""
    out = dict.fromkeys(ENGINE_KEYS, 0.0)
    mb = 1024.0 * 1024.0
    # Spark 4 writes rolling logs: a directory of ``events_*`` files
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or os.path.getsize(path) == 0:
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                        out["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if t0_ms <= info.get("Completion Time", 0) <= t1_ms:
                        out["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if not t0_ms <= ev["Task Info"]["Finish Time"] <= t1_ms:
                        continue
                    m = ev.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    out["shuffle_read_mb"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)) / mb
                    wr = m.get("Shuffle Write Metrics") or {}
                    out["shuffle_write_mb"] += wr.get(
                        "Shuffle Bytes Written", 0) / mb
                    out["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0)) / mb
    return out
